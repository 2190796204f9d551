package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.KnnGraph

/** NN-Descent k-NN graph + routed graph-ANN search ([[graft.llm.KnnGraph]]).
  *
  * The gate (s24/s25) asserts bit-equality against the DuckDB replay of the
  * identical dataflow; this suite owns what equality cannot show — that the
  * construction CONVERGES toward the exact k-NN graph on data with real
  * neighborhood structure (the synthetic corpus's embeddings are isotropic
  * noise, where the neighbor-of-neighbor premise carries no signal), that
  * the routed search recalls true neighbors, and that the committed index's
  * point reads genuinely cut the file list.
  */
class KnnGraphSpec extends SparkSpec {

  private def embDF(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
    val d = ad.zip(bd).map { case (x, y) => x * y }.sum
    d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
  }

  private def exactTopK(vecs: Seq[(Long, Array[Float])], k: Int): Map[Long, Seq[Long]] = {
    val m = vecs.toMap
    vecs.map { case (id, v) =>
      id -> vecs.collect { case (o, w) if o != id => (o, cos(v, w)) }
        .sortBy { case (o, c) => (-c, o) }.take(k).map(_._1)
    }.toMap
  }

  /** 10 moderately-overlapping Gaussian clusters, cluster membership
    * deliberately decorrelated from ids (shuffled) — the regime graph-ANN
    * methods are built for. */
  private def clustered(n: Int = 120, dim: Int = 16, spread: Double = 1.0,
                        seed: Int = 7): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(10, dim)(rng.nextGaussian() * 2)
    val pts = (0 until n).map { i =>
      centers(i % 10).map(c => (c + rng.nextGaussian() * spread).toFloat)
    }
    rng.shuffle(pts.indices.toList).zip(pts).map { case (id, v) => (id.toLong, v) }
      .sortBy(_._1)
  }

  test("walk beam order equals Spark's cos DESC, vec_id order on NaN, signed zeros and ties") {
    val s = spark
    import s.implicits._
    val nan = Double.NaN
    val rows = Seq((1L, 7L, 0.5), (1L, 3L, nan), (1L, 2L, -0.0), (1L, 9L, 0.0),
      (1L, 1L, 0.0), (1L, 4L, -0.0), (1L, 8L, 0.5), (1L, 5L, -1.0),
      (1L, 6L, nan), (1L, 10L, Double.NegativeInfinity), (1L, 11L, Double.PositiveInfinity))
    val bySpark = rows.toDF("query_id", "vec_id", "cos")
      .orderBy(col("cos").desc, col("vec_id")).collect().map(_.getLong(1)).toSeq
    assert(rows.sorted(KnnGraph.BeamOrder).map(_._2) === bySpark)
    // NaN first, the zeros tie on cos and order by vec_id
    assert(bySpark === Seq(3L, 6L, 11L, 7L, 8L, 1L, 2L, 4L, 9L, 5L, 10L))
  }

  test("knnGraph: k rows per vertex, ranked, no self loops, deterministic") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i => i -> Array.fill(8)(rng.nextGaussian().toFloat))
    val k = 4
    val got = KnnGraph.knnGraph(embDF(vecs), k = k, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val bySrc = got.groupBy(_._1)
    assert(bySrc.keySet === (0L until 60L).toSet, "every vertex gets a neighbor list")
    bySrc.foreach { case (s, rows) =>
      assert(rows.length === k, s"vertex $s must carry k=$k edges")
      assert(rows.map(_._3).sorted === (1L to k.toLong), s"vertex $s ranks must be 1..$k")
      assert(!rows.exists(_._2 == s), s"vertex $s must not self-link")
      assert(rows.map(_._2).distinct.length === k, s"vertex $s neighbors must be distinct")
      // ranks follow (cos desc, id asc)
      val byRank = rows.sortBy(_._3)
      assert(byRank.map(r => (-r._4, r._2)) === byRank.map(r => (-r._4, r._2)).sorted,
        s"vertex $s rank order must follow (cos desc, id)")
    }
    val again = KnnGraph.knnGraph(embDF(vecs), k = k, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.sorted === again.sorted, "construction must be deterministic")
  }

  test("NN-Descent converges: recall over the exact k-NN graph rises from ring init past 0.9") {
    val vecs = clustered(spread = 0.4)
    val k = 6
    val exact = exactTopK(vecs, k)
    def recall(rounds: Int): Double = {
      val got = KnnGraph.knnGraph(embDF(vecs), k = k, rounds = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      vecs.map { case (id, _) =>
        got(id).intersect(exact(id).toSet).size.toDouble / k
      }.sum / vecs.size
    }
    val r0 = recall(0); val r2 = recall(2); val r4 = recall(4)
    assert(r0 < 0.2, s"id-ring init must start uninformed, got $r0")
    assert(r2 > r0, s"local joins must improve recall: ring $r0 -> round2 $r2")
    assert(r4 >= 0.9, s"round-4 recall must clear 0.9, got $r4")
  }

  test("routed search: k rows per query, self excluded, scores exact, recall clears the floor") {
    val vecs = clustered(spread = 1.0)
    val vmap = vecs.toMap
    val root = java.nio.file.Files.createTempDirectory("graft-knng-spec").toString
    KnnGraph.buildKnnGraphIndex(embDF(vecs), root, k = 6, rounds = 4)
    val numQueries = 20; val k = 5
    val got = KnnGraph.knnGraphSearch(spark, root, numQueries = numQueries, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet === (0L until numQueries.toLong).toSet)
    byQ.foreach { case (q, rows) =>
      assert(rows.length === k, s"query $q must return k=$k rows")
      assert(!rows.exists(_._2 == q), s"query $q must exclude itself")
      rows.foreach { case (_, nbr, _, c6) =>
        assert(c6 === math.floor(cos(vmap(q), vmap(nbr)) * 1e6).toLong,
          s"returned score for ($q, $nbr) must be the exact cosine")
      }
    }
    val exact = exactTopK(vecs, k)
    val rec = (0L until numQueries.toLong).map { q =>
      byQ(q).map(_._2).toSet.intersect(exact(q).toSet).size.toDouble / k
    }.sum / numQueries
    assert(rec >= 0.5, s"multi-entry routed search recall@$k must clear 0.5, got $rec")
    val again = KnnGraph.knnGraphSearch(spark, root, numQueries = numQueries, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.sorted === again.sorted, "search must be deterministic")
    // the SQL TVF surface returns the identical frame (IndexTvfs contract)
    val viaSql = spark.sql(s"SELECT * FROM graph_ann('$root', $numQueries, $k, 8, 3)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(viaSql.sorted === got.sorted,
      "graph_ann TVF must equal the Scala API row-for-row")
  }

  test("committed index point reads cut the file list (adjacency AND vector side)") {
    val vecs = clustered(n = 200, spread = 0.8, seed = 13)
    val root = java.nio.file.Files.createTempDirectory("graft-knng-prune").toString
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try KnnGraph.buildKnnGraphIndex(embDF(vecs), root, k = 4, rounds = 2)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val graph = new graft.operators.CommitTable(spark, s"$root/graph", "src")
    val vtab = new graft.operators.CommitTable(spark, s"$root/vectors", "vec_id")
    val gAll = graph.read().inputFiles.toSet
    val vAll = vtab.read().inputFiles.toSet
    assert(gAll.size > 1 && vAll.size > 1,
      s"layout must be multi-file for the cut to be observable (graph ${gAll.size}, vectors ${vAll.size})")
    val gCut = graph.prunedReadIn(Seq(0L)).inputFiles.toSet
    val vCut = vtab.prunedReadIn(Seq(0L)).inputFiles.toSet
    assert(gCut.nonEmpty && gCut.size < gAll.size,
      s"a 1-vertex adjacency fetch must skip files: ${gCut.size} of ${gAll.size}")
    assert(vCut.nonEmpty && vCut.size < vAll.size,
      s"a 1-vector fetch must skip files: ${vCut.size} of ${vAll.size}")
    // the walk's driver reads open only the cut files: with every
    // pruned-out file gone from disk they still return the wanted rows
    ((gAll -- gCut) ++ (vAll -- vCut)).foreach(f => new java.io.File(new java.net.URI(f)).delete())
    assert(graph.localReadIn(Seq(0L)).get.rows.exists(_.getLong(0) == 0L))
    assert(vtab.localReadIn(Seq(0L)).get.rows.exists(_.getLong(0) == 0L))
  }

  test("driver cosines equal Spark's bit for bit over NaN, signed zeros, infinities, null elements and zero norms") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rng = new scala.util.Random(5)
    val elems = Seq(1.5, -2.0, 0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e-300, 3.0)
    def vec(): Seq[java.lang.Double] = Seq.fill(4)(
      if (rng.nextInt(6) == 0) null else java.lang.Double.valueOf(elems(rng.nextInt(elems.size))))
    def norm(pool: Seq[java.lang.Double]): java.lang.Double = pool(rng.nextInt(pool.size))
    val nonZero: Seq[java.lang.Double] =
      Seq(1.5, 3.0, Double.NaN, Double.PositiveInfinity, -2.0).map(java.lang.Double.valueOf) :+ null
    val zero: Seq[java.lang.Double] = Seq(0.0, -0.0, 1e-300).map(java.lang.Double.valueOf)
    val schema = StructType(Seq(StructField("query_id", LongType, false),
      StructField("vec_id", LongType, false), StructField("e", ArrayType(DoubleType)),
      StructField("nrm", DoubleType), StructField("qe", ArrayType(DoubleType)),
      StructField("qn", DoubleType)))
    // one batch whose denominators are never zero, and single rows whose
    // denominator is (0.0, -0.0, or 1e-300² underflowing): under ANSI
    // those fail, so each is its own batch
    val batch = (0 until 300).map(i => Row(i.toLong, i.toLong, vec(), norm(nonZero), vec(), norm(nonZero)))
    val zeros = (0 until 6).map(i => Row(i.toLong, i.toLong, vec(), norm(zero), vec(), norm(zero :+ 2.0)))
    def condition(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
        case st: org.apache.spark.SparkThrowable if st.getCondition != null => st.getCondition
      }.getOrElse(t.getClass.getName)
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(schema)
    // bits compared as Spark compares doubles: every NaN is one value (its
    // sign bit follows whichever NaN operand the JIT's instruction order
    // keeps, on either path), -0.0 and 0.0 stay distinct
    def outcome(scored: => Seq[(Long, Option[Double])]): Either[String, Seq[Option[Long]]] =
      scala.util.Try(scored.sortBy(_._1).map(_._2.map(java.lang.Double.doubleToLongBits)))
        .toEither.left.map(condition)
    val ansi0 = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val got = (batch +: zeros.map(Seq(_))).map { rows =>
        val onDriver = outcome(KnnGraph.localCosine(spark, schema)(
          rows.map(toInternal(_).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
          .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        // a shuffle between the rows and the Column: Spark runs it in a job, codegen'd
        val inSpark = outcome(KnnGraph.cosine(spark.createDataFrame(rows.asJava, schema).repartition(2))
          .collect().toSeq.map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        assert(onDriver === inSpark, s"ansi=$ansi rows=${rows.take(2)}")
        onDriver
      }
      assert(got.head.isRight, s"ansi=$ansi: the non-zero batch scores")
      val zeroDenominator = if (ansi == "true") Left("DIVIDE_BY_ZERO") else Right(Seq(None))
      assert(got.tail.contains(zeroDenominator), s"ansi=$ansi: some row divides by zero")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi0)
  }

  test("append: search-then-link makes new points reachable via reverse edges") {
    val vecs = clustered(n = 150, spread = 0.6, seed = 31)
    val (batch, base) = vecs.partition(_._1 < 30)
    val root = java.nio.file.Files.createTempDirectory("graft-knng-append").toString
    KnnGraph.buildKnnGraphIndex(embDF(base), root, k = 6, rounds = 3)
    val graphT = new graft.operators.CommitTable(spark, s"$root/graph", "src")
    val vecsT = new graft.operators.CommitTable(spark, s"$root/vectors", "vec_id")
    val (gv0, vv0) = (graphT.latestVersion().get, vecsT.latestVersion().get)
    val linkK = 6
    KnnGraph.appendKnnGraphIndex(embDF(batch), root, linkK = linkK)
    // exactly ONE new commit per table — the append is atomic
    assert(graphT.latestVersion().get === gv0 + 1, "graph append must be one commit")
    assert(vecsT.latestVersion().get === vv0 + 1, "vectors append must be one commit")
    // vectors table now carries the full corpus
    val allIds = vecsT.read().select("vec_id").collect().map(_.getLong(0)).toSet
    assert(allIds === vecs.map(_._1).toSet, "post-append vectors must cover build + batch")
    // every batch point got exactly linkK forward edges into the BUILD
    // corpus, and the same rows reversed (found -> new)
    val edges = graphT.read().select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batchIds = batch.map(_._1).toSet
    val fwd = edges.filter(e => batchIds(e._1)).groupBy(_._1)
    assert(fwd.keySet === batchIds, "every appended point must carry forward links")
    fwd.foreach { case (id, es) =>
      assert(es.length === linkK, s"appended $id must carry linkK=$linkK forward edges")
      assert(es.forall(e => !batchIds(e._2)),
        s"appended $id must link into the committed corpus only (intra-batch deferred to rebuild)")
    }
    val revSet = edges.filter(e => batchIds(e._2)).map(e => (e._2, e._1)).toSet
    assert(fwd.values.flatten.toSet === revSet,
      "reverse edges must mirror the forward links exactly")
    // the post-append walk actually SURFACES appended points: queries are
    // clustered with batch members, so top-k over the extended index must
    // recall batch neighbors it could never reach pre-append
    val vmap = vecs.toMap
    val got = KnnGraph.knnGraphSearch(spark, root, numQueries = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    got.foreach { case (q, nbr, c6) =>
      assert(c6 === math.floor(cos(vmap(q), vmap(nbr)) * 1e6).toLong,
        s"post-append score ($q, $nbr) must be the exact cosine")
    }
    assert(got.exists { case (_, nbr, _) => batchIds(nbr) && true },
      "post-append search must surface at least one appended neighbor")
    val exact = exactTopK(vecs, 5)
    val byQ = got.groupBy(_._1)
    val rec = (0L until 20L).map { q =>
      byQ(q).map(_._2).toSet.intersect(exact(q).toSet).size.toDouble / 5
    }.sum / 20
    assert(rec >= 0.5, s"post-append routed recall@5 must clear 0.5, got $rec")
  }

  test("delete lifecycle: tombstoned vertices navigate but never surface; consolidation repairs routes and re-snaps entries") {
    val vecs = clustered(spread = 1.0, seed = 11)
    val root = java.nio.file.Files.createTempDirectory("graft-knndel-spec").toString
    KnnGraph.buildKnnGraphIndex(embDF(vecs), root, k = 6, rounds = 4)
    val numQueries = 20; val k = 5
    def rows() = KnnGraph.knnGraphSearch(spark, root, numQueries = numQueries, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val delIds = (40L until 70L).toSet // disjoint from the query ids
    val graph = new graft.operators.CommitTable(spark, s"$root/graph", "src")
    val vectors = new graft.operators.CommitTable(spark, s"$root/vectors", "vec_id")
    val graphHead = graph.latestVersion().get
    KnnGraph.deleteFromKnnGraphIndex(
      embDF(vecs.filter(v => delIds(v._1))).select("vec_id"), root)
    assert(graph.latestVersion().get === graphHead,
      "the delete must be one tombstone commit — no graph rewrite")
    // pre-consolidation: deleted ids navigate (FreshDiskANN DeleteList) but
    // never enter results; the k contract holds
    val pre = rows()
    assert(pre.forall(r => !delIds(r._2)), "tombstoned ids must leave results at once")
    assert(pre.groupBy(_._1).forall(_._2.size == k), "k rows per query must survive")
    // consolidation: one-hop repair, physical drop, entries re-snapped
    KnnGraph.consolidateKnnGraphIndex(spark, root)
    val edges = graph.read().select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.forall { case (s, d) => !delIds(s) && !delIds(d) },
      "no edge may touch a deleted vertex after consolidation")
    assert(vectors.read().collect().map(_.getLong(0)).forall(id => !delIds(id)),
      "deleted vector rows must be gone after consolidation")
    val entryIds = new graft.operators.CommitTable(spark, s"$root/entries", "eid")
      .read().collect().map(_.getLong(0)).toSet
    assert(entryIds.forall(id => !delIds(id)), "entries must re-snap off deleted vertices")
    // search still serves k results per query with exact scores and a sane
    // recall floor over the SURVIVING exact top-k
    val post = rows()
    assert(post.groupBy(_._1).forall(_._2.size == k))
    assert(post.forall(r => !delIds(r._2)))
    val vmap = vecs.toMap
    post.foreach { case (q, nbr, _, c6) =>
      assert(c6 === math.floor(cos(vmap(q), vmap(nbr)) * 1e6).toLong)
    }
    val exact = exactTopK(vecs.filter(v => !delIds(v._1)), k)
    val rec = (0L until numQueries.toLong).map { q =>
      post.filter(_._1 == q).map(_._2).toSet.intersect(exact(q).toSet).size.toDouble / k
    }.sum / numQueries
    assert(rec >= 0.5, s"post-consolidation recall@$k must clear 0.5, got $rec")
    // consolidating again is a no-op (delete list cleared)
    val v = graph.latestVersion().get
    assert(KnnGraph.consolidateKnnGraphIndex(spark, root) === v)
  }

  test("filtered search: predicate gates results only, navigation stays unfiltered, k contract holds under selectivity") {
    val vecs = clustered(spread = 1.0, seed = 23)
    val root = java.nio.file.Files.createTempDirectory("graft-knnflt-spec").toString
    KnnGraph.buildKnnGraphIndex(embDF(vecs), root, k = 6, rounds = 4)
    val numQueries = 12; val k = 3
    val keep = (id: Long) => id % 3 == 1
    val got = KnnGraph.knnGraphSearch(spark, root, numQueries = numQueries, k = k,
        beam = 16, predicate = Some(col("vec_id") % 3 === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val byQ = got.groupBy(_._1)
    byQ.foreach { case (q, rows) =>
      assert(rows.forall(r => keep(r._2)), s"query $q surfaced a non-matching id")
      assert(rows.map(_._3).sorted === (1L to rows.length), s"query $q ranks must be contiguous")
      assert(rows.length === k, s"query $q must fill k=$k under the 33% filter at beam 16")
    }
    // a TRUE predicate is the identity on the unfiltered search
    val noFilter = KnnGraph.knnGraphSearch(spark, root, numQueries = numQueries, k = k, beam = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val trueFilter = KnnGraph.knnGraphSearch(spark, root, numQueries = numQueries, k = k,
        beam = 16, predicate = Some(org.apache.spark.sql.functions.lit(true)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(trueFilter.sorted === noFilter.sorted)
    // navigation is unfiltered: the filtered results are exactly the
    // matching slice of the walk's ranking, i.e. a DEEPER cut of the same
    // visited set — every filtered neighbor appears in the wide unfiltered
    // ranking of the same walk
    val wide = KnnGraph.knnGraphSearch(spark, root, numQueries = numQueries, k = 16, beam = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaWide = got.filter { case (q, nbr, _) => wide((q, nbr)) }
    assert(viaWide.size >= got.size * 2 / 3,
      "filtered results must come from the same visited pool the unfiltered walk ranks")
  }

  test("pqGraphSearch: ADC-navigated walk holds a recall floor, returns exact re-ranked scores, reads only codes during navigation") {
    val vecs = clustered(n = 120, dim = 16, spread = 1.0, seed = 31)
    val root = java.nio.file.Files.createTempDirectory("graft-pqgann-spec").toString
    KnnGraph.buildKnnGraphIndex(embDF(vecs), root, k = 6, rounds = 4)
    KnnGraph.addPqToKnnGraphIndex(embDF(vecs), root, m = 4, ksub = 16, dim = 16)
    val numQueries = 16; val k = 4
    val got = KnnGraph.pqGraphSearch(spark, root, numQueries = numQueries, k = k, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet === (0L until numQueries.toLong).toSet)
    val vmap = vecs.toMap
    byQ.foreach { case (q, rows) =>
      assert(rows.length === k, s"query $q must return k=$k rows")
      assert(!rows.exists(_._2 == q))
      rows.foreach { case (_, nbr, _, c6) =>
        assert(c6 === math.floor(cos(vmap(q), vmap(nbr)) * 1e6).toLong,
          "final scores must be EXACT cosines (the full-precision re-rank), never ADC approximations")
      }
    }
    // quantized navigation costs some recall vs the float walk, but the
    // re-ranked result must still clear a floor over the exact top-k
    val exact = exactTopK(vecs, k)
    val rec = (0L until numQueries.toLong).map { q =>
      byQ(q).map(_._2).toSet.intersect(exact(q).toSet).size.toDouble / k
    }.sum / numQueries
    assert(rec >= 0.4, s"PQ-navigated recall@$k must clear 0.4, got $rec")
    assert(got === KnnGraph.pqGraphSearch(spark, root, numQueries = numQueries, k = k, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
      "integer ADC navigation must be deterministic")
    // the codes table is the walk's corpus-sized artifact: m bytes per
    // vector, vec_id-clustered so the per-hop point reads file-prune
    val codes = new graft.operators.CommitTable(spark, s"$root/codes", "vec_id")
    assert(codes.read().count() === vecs.length.toLong)
  }

  test("beam frontiers never embed as literal in-lists: plans stay constant-size under large query batches (r17 verdict Next #4)") {
    val vecs = clustered(n = 120, dim = 16, spread = 1.0, seed = 33)
    val root = java.nio.file.Files.createTempDirectory("graft-gann-inlist").toString
    KnnGraph.buildKnnGraphIndex(embDF(vecs), root, k = 6, rounds = 3)
    KnnGraph.addPqToKnnGraphIndex(embDF(vecs), root, m = 4, ksub = 16, dim = 16)
    // frontier/candidate membership must be a broadcast semi-join, never
    // `isin(ids: _*)` — a literal list is O(queries·beam) PLAN size per
    // hop. The walk localCheckpoints each hop, so inspect every stage:
    // collect In/InSet sizes from the final plan of both search paths
    // (the last stage joins the largest id list of the whole walk).
    def maxInList(df: org.apache.spark.sql.DataFrame): Int = {
      val sizes = df.queryExecution.optimizedPlan.flatMap(p =>
        p.expressions.flatMap(_.collect {
          case in: org.apache.spark.sql.catalyst.expressions.In => in.list.size
          case s: org.apache.spark.sql.catalyst.expressions.InSet => s.hset.size
        }))
      if (sizes.isEmpty) 0 else sizes.max
    }
    val float = KnnGraph.knnGraphSearch(spark, root, numQueries = 24, k = 4)
    val pq = KnnGraph.pqGraphSearch(spark, root, numQueries = 24, k = 4, dim = 16)
    assert(maxInList(float) <= 8,
      s"float-path plan embeds a literal id list of ${maxInList(float)}")
    assert(maxInList(pq) <= 8,
      s"PQ-path plan embeds a literal id list of ${maxInList(pq)}")
    // and the results are still the exact contract (k rows per query)
    assert(float.collect().length === 24 * 4)
    assert(pq.collect().length === 24 * 4)
  }

  test("index manifest: one atomic version per build/append, whole-index time travel replays the pre-append search") {
    val vecs = clustered(n = 120, dim = 16, spread = 1.0, seed = 41)
    val root = java.nio.file.Files.createTempDirectory("graft-idxver-spec").toString
    KnnGraph.buildKnnGraphIndex(embDF(vecs.filter(_._1 < 90)), root, k = 6, rounds = 3)
    import graft.operators.{CommitTable, IndexManifest}
    assert(IndexManifest.versions(spark, root) === Seq(0L))
    val pin0 = IndexManifest.resolve(spark, root, Some(0L))
    assert(pin0 === Map("vectors" -> 0L, "graph" -> 0L, "entries" -> 0L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val preAppend = rows(KnnGraph.knnGraphSearch(spark, root, numQueries = 10, k = 3))
    KnnGraph.appendKnnGraphIndex(embDF(vecs.filter(_._1 >= 90)), root)
    // the append pinned both member appends as ONE new index version
    assert(IndexManifest.versions(spark, root) === Seq(0L, 1L))
    val pin1 = IndexManifest.resolve(spark, root, Some(1L))
    assert(pin1 === Map("vectors" -> 1L, "graph" -> 1L, "entries" -> 0L))
    assert(pin1("vectors") ===
      new CommitTable(spark, s"$root/vectors", "vec_id").latestVersion().get)
    // whole-index time travel: the v0 search IS the pre-append search
    assert(rows(KnnGraph.knnGraphSearchAt(spark, root, 0L, numQueries = 10, k = 3))
      === preAppend, "searchAt(0) must replay the build-only index exactly")
    // ...and the head version reproduces the live search
    assert(rows(KnnGraph.knnGraphSearchAt(spark, root, 1L, numQueries = 10, k = 3))
      === rows(KnnGraph.knnGraphSearch(spark, root, numQueries = 10, k = 3)))
    // the SQL VERSION AS OF surface returns the identical frame
    assert(rows(spark.sql(s"SELECT * FROM graph_ann_at('$root', 0, 10, 3, 8, 3)"))
      === preAppend, "graph_ann_at TVF must equal knnGraphSearchAt row-for-row")
    // consolidation commits its own index version too
    KnnGraph.deleteFromKnnGraphIndex(embDF(vecs.filter(v => v._1 >= 100 && v._1 < 110))
      .select("vec_id"), root)
    KnnGraph.consolidateKnnGraphIndex(spark, root)
    assert(IndexManifest.versions(spark, root) === Seq(0L, 1L, 2L))
  }

  test("vacuumIndex: kept index versions keep replaying (pins protected across members); dropping the window reclaims, head untouched") {
    val vecs = clustered(n = 120, dim = 16, spread = 1.0, seed = 43)
    val root = java.nio.file.Files.createTempDirectory("graft-idxvac-spec").toString
    KnnGraph.buildKnnGraphIndex(embDF(vecs.filter(_._1 < 90)), root, k = 6, rounds = 3)
    KnnGraph.appendKnnGraphIndex(embDF(vecs.filter(_._1 >= 90)), root)
    import graft.operators.IndexManifest
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val v0Search = rows(KnnGraph.knnGraphSearchAt(spark, root, 0L, numQueries = 10, k = 3))
    val headSearch = rows(KnnGraph.knnGraphSearch(spark, root, numQueries = 10, k = 3))
    // keep = 2: index v0's member pins survive even though every member
    // table has a NEWER head — the per-table suffix vacuum could not
    // express this keep set; both kept versions must replay exactly
    assert(IndexManifest.vacuumIndex(spark, root, keepLastIndexVersions = 2) === 0L,
      "append-only history keeps every data directory while both versions are retained")
    assert(rows(KnnGraph.knnGraphSearchAt(spark, root, 0L, numQueries = 10, k = 3)) === v0Search)
    assert(rows(KnnGraph.knnGraphSearch(spark, root, numQueries = 10, k = 3)) === headSearch)
    // a rewrite (consolidation) makes old member versions RECLAIMABLE:
    // delete + consolidate, then retain only the head index version
    KnnGraph.deleteFromKnnGraphIndex(
      embDF(vecs.filter(v => v._1 >= 100 && v._1 < 110)).select("vec_id"), root)
    KnnGraph.consolidateKnnGraphIndex(spark, root)
    val postChurn = rows(KnnGraph.knnGraphSearch(spark, root, numQueries = 10, k = 3))
    val reclaimed = IndexManifest.vacuumIndex(spark, root, keepLastIndexVersions = 1)
    assert(reclaimed > 0L,
      "pre-rewrite member data unreferenced by the kept index version must be reclaimed")
    assert(rows(KnnGraph.knnGraphSearch(spark, root, numQueries = 10, k = 3)) === postChurn,
      "the head search must be byte-identical after retention")
    // the dropped window is genuinely gone: v0's member files were
    // reclaimed, so replaying it now fails instead of reading garbage
    intercept[Exception] {
      KnnGraph.knnGraphSearchAt(spark, root, 0L, numQueries = 10, k = 3).collect()
    }
  }

  test("knnGraphSearchFor: external query vectors walk the committed graph; member queries reproduce knnGraphSearch exactly") {
    val vecs = clustered(n = 100, dim = 16, spread = 1.0, seed = 53)
    val root = java.nio.file.Files.createTempDirectory("graft-knnserve-spec").toString
    KnnGraph.buildKnnGraphIndex(embDF(vecs), root, k = 6, rounds = 3)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val members = embDF(vecs.filter(_._1 < 10))
    assert(rows(KnnGraph.knnGraphSearchFor(spark, root, members, k = 3))
      === rows(KnnGraph.knnGraphSearch(spark, root, numQueries = 10, k = 3)))
    // truly external vectors: k rows each with exact cosines
    val rng = new scala.util.Random(5)
    val ext = (2000L until 2003L).map(i => i -> Array.fill(16)(rng.nextGaussian().toFloat))
    val got = rows(KnnGraph.knnGraphSearchFor(spark, root, embDF(ext), k = 3))
    assert(got.map(_._1).distinct.sorted === (2000L until 2003L))
    assert(got.size === 9)
    val vmap = vecs.toMap; val emap = ext.toMap
    got.foreach { case (q, nbr, _, c6) =>
      assert(c6 === math.floor(cos(emap(q), vmap(nbr)) * 1e6).toLong)
    }
  }

  test("sparse ids: ring init degrades gracefully, entries snap to existing ids") {
    val rng = new scala.util.Random(23)
    // ids 0, 3, 6, ... 87 — every ring slot between them is missing
    val vecs = (0 until 30).map(i => (i * 3L) -> Array.fill(8)(rng.nextGaussian().toFloat))
    val graphRows = KnnGraph.knnGraph(embDF(vecs), k = 3, rounds = 2).collect()
    val ids = vecs.map(_._1).toSet
    assert(graphRows.forall(r => ids(r.getLong(0)) && ids(r.getLong(1))),
      "graph must only reference existing ids")
    assert(graphRows.map(_.getLong(0)).toSet === ids, "every vertex keeps a neighbor list")
    val root = java.nio.file.Files.createTempDirectory("graft-knng-sparse").toString
    KnnGraph.buildKnnGraphIndex(embDF(vecs), root, k = 3, rounds = 2, numEntries = 4)
    val entries = new graft.operators.CommitTable(spark, s"$root/entries", "eid")
      .read().collect().map(_.getLong(0)).toSet
    assert(entries.nonEmpty && entries.subsetOf(ids), s"entries $entries must be existing ids")
    val res = KnnGraph.knnGraphSearch(spark, root, numQueries = 1, k = 2)
    val rows = res.collect()
    assert(rows.length === 2 && rows.forall(r => ids(r.getLong(1))),
      "search over sparse ids must return k existing neighbors")
  }

  test("link-health stats move monotonically under churn and clear on consolidation (s40)") {
    val vecs = clustered(120, dim = 16, seed = 11)
    val root = java.nio.file.Files.createTempDirectory("graft-knn-health").toString
    val idx = s"$root/idx"
    KnnGraph.buildKnnGraphIndex(embDF(vecs.filter(_._1 >= 20)), idx, k = 4, rounds = 2)
    def snap(): (Long, Long, Long, Long, Long, Long) = {
      val r = KnnGraph.knnGraphLinkStats(spark, idx).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    }
    val fresh = snap()
    assert(fresh._3 === 0L && fresh._4 === 0L && fresh._5 === 0L && fresh._6 === 0L,
      s"a fresh build must read clean, got $fresh")

    // append: append-edge share rises (log metadata), tombstones stay 0
    KnnGraph.appendKnnGraphIndex(embDF(vecs.filter(_._1 < 20)), idx, linkK = 4)
    val appended = snap()
    assert(appended._6 > 0L && appended._4 === 0L,
      s"append must raise ONLY the append share, got $appended")
    assert(appended._1 > fresh._1, "append adds edges")

    // deletes: tombstone shares rise STRICTLY with each batch
    def del(lo: Long, hi: Long) = KnnGraph.deleteFromKnnGraphIndex(
      embDF(vecs).filter(col("vec_id") >= lo && col("vec_id") < hi).select("vec_id"), idx)
    del(40L, 60L)
    val d1 = snap()
    assert(d1._3 > 0L && d1._4 > 0L, s"first delete must register, got $d1")
    assert(d1._6 === appended._6, "tombstoning is O(deleted) — no file churn, append share fixed")
    del(60L, 80L)
    val d2 = snap()
    assert(d2._3 > d1._3 && d2._4 > d1._4,
      s"the instrument must be MONOTONE under churn: $d1 -> $d2")
    assert(d2._5 >= d1._5, "stale-vertex share never decreases under deletes")

    // consolidation clears every counter (the rebuild trigger resets)
    KnnGraph.consolidateKnnGraphIndex(spark, idx, patchK = 4)
    val healed = snap()
    assert(healed._3 === 0L && healed._4 === 0L && healed._5 === 0L && healed._6 === 0L,
      s"consolidation must clear the instrument, got $healed")
  }

  test("multi-state link-health fold equals per-state snapshots (r19 s40 fusion)") {
    import spark.implicits._
    val vecs = clustered(120, dim = 16, seed = 13)
    val root = java.nio.file.Files.createTempDirectory("graft-knn-multih").toString
    val idx = s"$root/idx"
    KnnGraph.buildKnnGraphIndex(embDF(vecs.filter(_._1 >= 20)), idx, k = 4, rounds = 2)
    KnnGraph.appendKnnGraphIndex(embDF(vecs.filter(_._1 < 20)), idx, linkK = 4)
    val adj = new graft.operators.CommitTable(spark, s"$idx/graph", "src")
      .read().select("src", "dst").localCheckpoint(true)
    def tuple(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    // sequential singles, snapshotted live between tombstone-only mutations
    val single0 = tuple(KnnGraph.knnGraphLinkStats(spark, idx, Some(adj)).head())
    def del(lo: Long, hi: Long) = KnnGraph.deleteFromKnnGraphIndex(
      embDF(vecs).filter(col("vec_id") >= lo && col("vec_id") < hi).select("vec_id"), idx)
    val v1 = del(40L, 60L)
    val single1 = tuple(KnnGraph.knnGraphLinkStats(spark, idx, Some(adj)).head())
    val v2 = del(60L, 80L)
    val single2 = tuple(KnnGraph.knnGraphLinkStats(spark, idx, Some(adj)).head())
    // one fused pass over the same adjacency, states read back per version
    val states = KnnGraph.knnGraphLinkStatsStates(spark, idx, adj, Seq(
      Seq.empty[Long].toDF("vec_id"),
      graft.llm.Tombstones.readAt(spark, idx, "vec_id", v1),
      graft.llm.Tombstones.readAt(spark, idx, "vec_id", v2))).map(tuple)
    assert(states(0) === single0, "empty-state fold diverged")
    assert(states(1) === single1, "first-delete fold diverged")
    assert(states(2) === single2, "second-delete fold diverged")
    assert(single2._3 > single1._3, "guard: the states actually differ")
  }

  test("a repeated id in a multi-state delete set counts once") {
    import spark.implicits._
    val vecs = clustered(120, dim = 16, seed = 17)
    val root = java.nio.file.Files.createTempDirectory("graft-knn-dupdel").toString
    val idx = s"$root/idx"
    KnnGraph.buildKnnGraphIndex(embDF(vecs), idx, k = 4, rounds = 2)
    val adj = new graft.operators.CommitTable(spark, s"$idx/graph", "src")
      .read().select("src", "dst").localCheckpoint(true)
    def tuple(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val ids = (40L until 60L).toSeq
    KnnGraph.deleteFromKnnGraphIndex(ids.toDF("vec_id"), idx)
    val single = tuple(KnnGraph.knnGraphLinkStats(spark, idx, Some(adj)).head())
    val states = KnnGraph.knnGraphLinkStatsStates(spark, idx, adj,
      Seq(ids.toDF("vec_id"), (ids ++ ids ++ Seq(41L)).toDF("vec_id"))).map(tuple)
    assert(single._3 > 0L, "guard: the delete registers")
    // the fused pass aggregates one joined row set for all states, so a
    // duplicate in any state's delete set would inflate every state
    assert(states(0) === single, "distinct delete set diverged from the single-state stats")
    assert(states(1) === single, "a repeated id must not inflate the counts")
  }
}
