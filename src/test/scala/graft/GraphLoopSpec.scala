package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

import graft.graph.{Analytics, Traversals}

/** Every Pregel run and GraphX built-in in `graft.graph` goes through one
  * graph lifecycle (place, run, materialize, release): a call leaves
  * exactly one persisted RDD behind, its result's, also when it throws; and
  * empty inputs and seeds no edge touches have declared results.
  */
class GraphLoopSpec extends SparkSpec {

  private lazy val rnd = new scala.util.Random(7)
  private lazy val pairs: Seq[(Long, Long)] =
    Seq.fill(600)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
  private def weighted(col: String): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.map { case (a, b) => (a, b, 1L + (a * 31 + b) % 7) }.toDF("src", "dst", col)
  }
  private def dag: DataFrame = edgesDF(pairs.filter(p => p._1 < p._2))

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def lineage(rdd: RDD[_]): Set[Int] =
    rdd.dependencies.map(d => lineage(d.rdd)).foldLeft(Set(rdd.id))(_ ++ _)

  /** The RDDs `call` newly persisted, checked to belong to its result. */
  private def leftovers(call: => DataFrame): Set[Int] = {
    val before = persisted
    val out = call
    val added = persisted -- before
    out.collect()
    assert(added.subsetOf(lineage(out.rdd)), s"persisted RDDs $added are not the result's")
    added
  }

  // stronglyConnectedComponents is left out: GraphX's own SCC caches
  // intermediate graphs inside its peeling loop that no caller can reach,
  // so it leaves them for the context cleaner whatever graft does
  private val calls: Seq[(String, () => DataFrame)] = Seq(
    "cc" -> (() => Analytics.connectedComponents(edgesDF(pairs))),
    "bfs" -> (() => Traversals.bfs(edgesDF(pairs), 3L)),
    "landmarkBfs" -> (() => Traversals.landmarkBfs(edgesDF(pairs), Seq(3L, 5L, 8L))),
    "weightedSssp" -> (() => Traversals.weightedSssp(weighted("w"), 3L)),
    "weightedSsspFixpoint" -> (() => Traversals.weightedSsspFixpoint(weighted("w"), 3L)),
    "temporalReachability" -> (() => Traversals.temporalReachability(weighted("t"), 3L)),
    "topoLayers" -> (() => Analytics.topoLayers(dag)),
    "greedyColoring" -> (() => Analytics.greedyColoring(edgesDF(pairs))))

  for ((name, call) <- calls)
    test(s"$name leaves exactly its result persisted") {
      assert(leftovers(call()).size === 1)
    }

  test("a failing call throws and leaves nothing persisted") {
    val cycle = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    val before = persisted
    val topo = intercept[IllegalArgumentException](Analytics.topoLayers(cycle, maxRounds = 10))
    assert(topo.getMessage.contains("cycle"))
    val coloring = intercept[IllegalArgumentException](
      Analytics.greedyColoring(edgesDF(pairs), maxRounds = 1))
    assert(coloring.getMessage.contains("exceeded 1 rounds"))
    assert(persisted -- before === Set.empty[Int])
  }

  test("empty edges, null endpoints and seeds no edge touches give their declared rows") {
    val s = spark
    import s.implicits._
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    def noneWith(c: String) = Seq.empty[(Long, Long, Long)].toDF("src", "dst", c)
    val some = edgesDF(Seq((0L, 1L), (1L, 2L)))
    val withNull = Seq[(java.lang.Long, java.lang.Long)]((0L, 1L), (1L, null)).toDF("src", "dst")
    def someWith(c: String) = Seq((0L, 1L, 1L), (1L, 2L, 1L)).toDF("src", "dst", c)
    val cases: Seq[(String, DataFrame, Set[Row])] = Seq(
      ("cc, no edges", Analytics.connectedComponents(none), Set()),
      ("scc, no edges", Analytics.stronglyConnectedComponents(none), Set()),
      ("topoLayers, no edges", Analytics.topoLayers(none), Set()),
      ("greedyColoring, no edges", Analytics.greedyColoring(none), Set()),
      ("greedyColoring, null endpoint dropped", Analytics.greedyColoring(withNull),
        Set(Row(0L, 0L), Row(1L, 1L))),
      ("bfs, no edges", Traversals.bfs(none, 4L), Set(Row(4L, 0))),
      ("weightedSssp, no edges", Traversals.weightedSssp(noneWith("w"), 4L), Set(Row(4L, 0L))),
      ("weightedSsspFixpoint, no edges",
        Traversals.weightedSsspFixpoint(noneWith("w"), 4L), Set(Row(4L, 0L))),
      ("temporalReachability, no edges",
        Traversals.temporalReachability(noneWith("t"), 4L, startTime = 5L), Set(Row(4L, 5L))),
      ("landmarkBfs, no edges", Traversals.landmarkBfs(none, Seq(4L, 6L, 4L)),
        Set(Row(4L, 4L, 0), Row(6L, 6L, 0))),
      ("bfs, absent seed", Traversals.bfs(some, 9L), Set(Row(9L, 0))),
      ("weightedSssp, absent seed", Traversals.weightedSssp(someWith("w"), 9L), Set(Row(9L, 0L))),
      ("weightedSsspFixpoint, absent seed",
        Traversals.weightedSsspFixpoint(someWith("w"), 9L), Set(Row(9L, 0L))),
      ("temporalReachability, absent seed",
        Traversals.temporalReachability(someWith("t"), 9L, startTime = 5L), Set(Row(9L, 5L))),
      ("landmarkBfs, absent seed", Traversals.landmarkBfs(some, Seq(0L, 9L)),
        Set(Row(0L, 0L, 0), Row(0L, 1L, 1), Row(0L, 2L, 2), Row(9L, 9L, 0))))
    for ((name, df, want) <- cases) {
      val got = df.collect()
      assert(got.length === want.size, name)
      assert(got.toSet === want, name)
    }
  }
}
