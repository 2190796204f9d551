package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.graph.{Analytics, SequentialModel}

/** The converged fixpoints (`pageRankConverged`, `katzConverged`,
  * `coreness`, `louvainSweep`, `louvain`) run as GraphX vertex-program
  * loops: one Spark job per round, lineage cut every round, and declared
  * results on empty input.
  */
class FixpointLoopSpec extends SparkSpec {

  /** Jobs a call may start beyond its rounds: building the output frame,
    * its sort (a sampling job plus the result job) and set-up reads. */
  private val PageRankExtraJobs = 4
  private val CorenessExtraJobs = 4
  /** Louvain adds one set-up job per level (the degree pass, which also
    * sums 2W) to the output jobs. */
  private val LouvainExtraJobs = 6

  private val empty = Seq.empty[(Long, Long)]

  /** Runs `body`, returning its value and the number of Spark jobs it started. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def rows3(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Depth of a result's RDD lineage, in `toDebugString` lines. */
  private def lineageLines(df: DataFrame): Int = df.rdd.toDebugString.linesIterator.size

  /** Rounds the H-index fixpoint runs, counting the final unchanged one. */
  private def hIndexRounds(edges: Seq[(Long, Long)]): Int = {
    val adj = edges.filter(p => p._1 != p._2)
      .flatMap(p => Seq(p, p.swap)).distinct.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var c = adj.map { case (v, ns) => v -> ns.size.toLong }
    var rounds = 0
    var changed = true
    while (changed) {
      rounds += 1
      val next = adj.map { case (v, ns) =>
        val desc = ns.map(c).sorted(Ordering.Long.reverse)
        v -> desc.zipWithIndex.map { case (x, i) => math.min(x, i + 1L) }.max
      }
      changed = next != c
      c = next
    }
    rounds
  }

  /** A strip of triangles: edges (i, i+1) and (i, i+2). Every coreness is 2,
    * but the drop from the interior's degree 4 spreads inward from both
    * ends about one hop per round, so rounds grow with the length. */
  private def strip(n: Int): Seq[(Long, Long)] =
    (0 until n).flatMap(i => Seq((i.toLong, i + 1L), (i.toLong, i + 2L)))

  private val fixed: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(17)
    Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
  }

  test("no edges gives zero rows from every converged fixpoint and its mirror") {
    val e = edgesDF(empty)
    assert(rows3(Analytics.pageRankConverged(e)).isEmpty)
    assert(rows3(Analytics.katzConverged(e)).isEmpty)
    assert(pairs(Analytics.coreness(e)).isEmpty)
    assert(pairs(Analytics.louvainSweep(e)).isEmpty)
    assert(pairs(Analytics.louvain(e)).isEmpty)
    assert(SequentialModel.pageRankConverged(empty).isEmpty)
    assert(SequentialModel.katzConverged(empty).isEmpty)
    assert(SequentialModel.coreness(empty).isEmpty)
    assert(SequentialModel.louvainSweep(empty, 4).isEmpty)
    assert(SequentialModel.louvain(empty, 4).isEmpty)
    // self-loops only: no simple undirected edge, so the undirected
    // fixpoints see no vertex either
    val loops = edgesDF(Seq((1L, 1L), (2L, 2L)))
    assert(pairs(Analytics.coreness(loops)).isEmpty)
    assert(pairs(Analytics.louvain(loops)).isEmpty)
  }

  test("pageRankConverged runs one job per round") {
    val (got, jobs) = countingJobs(rows3(Analytics.pageRankConverged(edgesDF(fixed))))
    assert(got === SequentialModel.pageRankConverged(fixed))
    val rounds = got.head._3.toInt
    assert(rounds > 5)
    info(s"$jobs jobs for $rounds rounds")
    assert(jobs <= rounds + PageRankExtraJobs, s"$jobs jobs for $rounds rounds")
  }

  test("coreness runs one job per round") {
    val g = strip(30)
    val (got, jobs) = countingJobs(pairs(Analytics.coreness(edgesDF(g))))
    assert(got === SequentialModel.coreness(g))
    val rounds = hIndexRounds(g)
    assert(rounds > 10)
    info(s"$jobs jobs for $rounds rounds")
    assert(jobs <= rounds + CorenessExtraJobs, s"$jobs jobs for $rounds rounds")
  }

  test("louvain runs one job per sweep round over both levels") {
    val rounds = 4
    val (got, jobs) = countingJobs(pairs(Analytics.louvain(edgesDF(fixed), rounds)))
    assert(got === SequentialModel.louvain(fixed, rounds))
    info(s"$jobs jobs for 2 x $rounds rounds")
    assert(jobs <= 2 * rounds + LouvainExtraJobs, s"$jobs jobs for 2 x $rounds rounds")
  }

  test("at the iteration caps the result's lineage is as deep as after two rounds") {
    // a 2-cycle fed by a source: the rank error flips sign and decays by
    // 0.85 per round, so tolE6 = 1 is still unmet at round 60
    val slow = Seq((0L, 1L), (1L, 0L), (2L, 0L))
    val capped = Analytics.pageRankConverged(edgesDF(slow), tolE6 = 1L, maxIter = 60)
    assert(rows3(capped) === SequentialModel.pageRankConverged(slow, tolE6 = 1L, maxIter = 60))
    assert(rows3(capped).head._3 === 60L)
    val short = Analytics.pageRankConverged(edgesDF(slow), tolE6 = 1L, maxIter = 2)
    assert(lineageLines(capped) === lineageLines(short))

    val long = strip(120)
    assert(hIndexRounds(long) > 50)
    val deep = Analytics.coreness(edgesDF(long))
    assert(pairs(deep) === SequentialModel.coreness(long))
    assert(lineageLines(deep) === lineageLines(Analytics.coreness(edgesDF(strip(6)))))
  }
}
