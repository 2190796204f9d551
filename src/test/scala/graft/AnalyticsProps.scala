package graft

import graft.graph.Analytics
import graft.sources.MatrixFormat
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck properties for the analytics operators vs brute-force driver
  * oracles on random digraphs (reference domain: ≤30 vertices, `utils.h:26`),
  * plus the dense-matrix format round-trip.
  */
object AnalyticsProps extends Properties("Analytics") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withMaxDiscardRatio(10)

  private def spark = TestSpark.spark

  private val genGraph: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 20)
    m <- Gen.choose(1, 3 * n)
    edges <- Gen.listOfN(m, for {
      s <- Gen.choose(0, n - 1)
      d <- Gen.choose(0, n - 1)
    } yield (s.toLong, d.toLong))
  } yield edges

  private def df(edges: List[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "dst")
  }

  property("degrees == per-vertex distinct-edge counts") =
    Prop.forAll(genGraph) { edges =>
      val e = edges.distinct
      val vs = e.flatMap(p => Seq(p._1, p._2)).distinct
      val want = vs.map(v =>
        (v, e.count(_._1 == v).toLong, e.count(_._2 == v).toLong)).toSet
      val got = Analytics.degrees(df(edges)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      got == want
    }

  property("connectedComponents == union-find oracle (undirected)") =
    Prop.forAll(genGraph) { edges =>
      val vs = edges.flatMap(p => Seq(p._1, p._2)).distinct
      val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
      def find(v: Long): Long = if (parent(v) == v) v else { parent(v) = find(parent(v)); parent(v) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val want = vs.groupBy(find).flatMap { case (_, vsIn) =>
        val label = vsIn.min; vsIn.map(v => (v, label))
      }.toSet
      val got = Analytics.connectedComponents(df(edges)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got == want
    }

  property("triangleCounts == cubic brute force on the simple undirected graph") =
    Prop.forAll(genGraph) { edges =>
      val und = edges.filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      val vs = und.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
      val tri = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        i <- vs.indices; j <- (i + 1) until vs.length; k <- (j + 1) until vs.length
        (a, b, c) = (vs(i), vs(j), vs(k))
        if und((a, b)) && und((b, c)) && und((a, c))
      } { tri(a) += 1; tri(b) += 1; tri(c) += 1 }
      val got = Analytics.triangleCounts(df(edges)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got == tri.toSet
    }

  property("stronglyConnectedComponents == brute-force mutual-reachability labels") =
    Prop.forAll(genGraph) { edges =>
      val got = Analytics.stronglyConnectedComponents(df(edges)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = SequentialOracles.scc(edges)
      Prop(got == want) :| s"got $got want $want"
    }

  property("pageRank == sequential oracle (rounded grain)") =
    Prop.forAll(genGraph) { edges =>
      val want = SequentialOracles.pageRank(edges, numIter = 5)
      val got = Analytics.pageRank(df(edges), numIter = 5).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      got.keySet == want.keySet &&
        got.forall { case (v, r) => math.abs(r - want(v)) < 6e-7 }
    }

  property("kCore wave peeling == queue-based Matula-Beck model") =
    Prop.forAll(genGraph, Gen.choose(1, 4)) { (edges, k) =>
      val got = Analytics.kCore(df(edges), k).collect()
        .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      val want = graft.graph.SequentialModel.kCore(edges, k)
      Prop(got == want) :| s"k=$k got $got want $want"
    }

  property("labelPropagation == sequential synchronous mirror") =
    Prop.forAll(genGraph, Gen.choose(0, 4)) { (edges, iters) =>
      val got = Analytics.labelPropagation(df(edges), iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.graph.SequentialModel.labelPropagation(edges, iters)
      Prop(got == want) :| s"iters=$iters got $got want $want"
    }

  property("minimumSpanningForest == sequential Kruskal on unique weights") =
    Prop.forAll(genGraph) { edges =>
      val s = spark
      import s.implicits._
      val weighted = edges.map { case (a, b) =>
        (a, b, math.min(a, b) * 31 + math.max(a, b)) } // unique per canonical pair
      val got = Analytics.minimumSpanningForest(weighted.toDF("src", "dst", "w"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val want = graft.graph.SequentialModel.minimumSpanningForest(weighted)
        .sortBy { case (a, b, _) => (a, b) }
      Prop(got == want) :| s"got $got want $want"
    }

  property("louvainSweep == sequential parity-alternating mirror") =
    Prop.forAll(genGraph, Gen.choose(0, 4)) { (edges, rounds) =>
      val got = Analytics.louvainSweep(df(edges), rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.graph.SequentialModel.louvainSweep(edges, rounds)
      Prop(got == want) :| s"rounds=$rounds got $got want $want"
    }

  property("pageRankConverged == sequential mirror, iteration count included") =
    Prop.forAll(genGraph) { edges =>
      val got = Analytics.pageRankConverged(df(edges)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val want = graft.graph.SequentialModel.pageRankConverged(edges)
      Prop(got == want) :| s"got $got want $want"
    }

  // genGraph has at most 20 distinct sources per vertex, so the spectral
  // radius is ≤ 20 and alpha = 0.03 keeps alpha·λ ≤ 0.6 < 1: it converges
  property("katzConverged == sequential mirror (convergent alpha)") =
    Prop.forAll(genGraph) { edges =>
      val got = Analytics.katzConverged(df(edges), alphaE3 = 30L, tolE6 = 10L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val want = graft.graph.SequentialModel.katzConverged(edges, alphaE3 = 30L, tolE6 = 10L)
      Prop(got == want) :| s"got $got want $want"
    }

  property("coreness == Batagelj–Zaversnik peeling") =
    Prop.forAll(genGraph) { edges =>
      val got = Analytics.coreness(df(edges)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.graph.SequentialModel.coreness(edges)
      Prop(got == want) :| s"got $got want $want"
    }

  property("louvain (two levels) == sequential mirror") =
    Prop.forAll(genGraph, Gen.choose(0, 4)) { (edges, rounds) =>
      val got = Analytics.louvain(df(edges), rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.graph.SequentialModel.louvain(edges, rounds)
      Prop(got == want) :| s"rounds=$rounds got $got want $want"
    }

  property("matrix write/read round-trips any 1-based graph") =
    Prop.forAll(genGraph) { edges =>
      val oneBased = edges.map(p => (p._1 + 1, p._2 + 1)).distinct
      val path = java.nio.file.Files.createTempDirectory("graft-prop").resolve("g.txt").toString
      MatrixFormat.writeMatrix(spark, df(oneBased), path)
      val back = MatrixFormat.readEdges(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      back == oneBased.toSet
    }
}
