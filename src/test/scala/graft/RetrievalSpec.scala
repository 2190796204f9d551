package graft

import graft.llm.{Retrieval, SequentialCorpus}
import org.apache.spark.sql.DataFrame

/** BM25 retrieval: ranking semantics, the integer-arithmetic contract
  * against an independent sequential restatement, and the input guards.
  */
class RetrievalSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Independent sequential BM25 over the same contract: own tokenizer,
    * own counts, the same integer unit discipline restated as plain loops
    * (truncating Long division ≡ the engine's `div` on positive operands).
    */
  private def seqBm25(rows: Seq[(Long, String)], q: Seq[String], k: Int,
                      k1E3: Long = 1200L, bE3: Long = 750L): Seq[(Long, Long)] = {
    val toks = rows.map { case (id, t) =>
      (id, t.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty))
    }.filter(_._2.nonEmpty)
    val n = toks.size.toLong
    val sumDl = toks.map(_._2.size.toLong).sum
    val idf = q.map(t => t -> Retrieval.idfE6(n, toks.count(_._2.contains(t)).toLong)).toMap
    toks.map { case (id, ws) =>
      val dl = ws.size.toLong
      val normE3 = (1000L - bE3) + bE3 * dl * n / sumDl
      val sE12 = q.map { t =>
        val tf = ws.count(_ == t).toLong
        if (tf == 0) 0L
        else idf(t) * (tf * (k1E3 + 1000L) * 1000000000L / (tf * 1000000L + k1E3 * normE3))
      }.sum
      (id, sE12 / 1000000L)
    } // only docs containing ≥ 1 query term return (the engine's tf inner join)
      .filter { case (id, _) => q.exists(t => toks.find(_._1 == id).get._2.contains(t)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
  }

  private def run(rows: Seq[(Long, String)], q: Seq[String], k: Int = 10,
                  k1E3: Long = 1200L, bE3: Long = 750L): Seq[(Long, Long)] =
    Retrieval.bm25TopK(docs(rows), q, k, k1E3, bE3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("rare term outranks common term; only matching docs return") {
    val corpus = Seq(
      (1L, "needle alpha beta gamma"),
      (2L, "alpha beta gamma delta"),
      (3L, "alpha beta delta epsilon"),
      (4L, "zeta eta theta iota"))
    // "alpha" appears in 3 of 4 docs, "needle" in 1 — doc 1 must win on idf
    val got = run(corpus, Seq("needle", "alpha"))
    assert(got.map(_._1) === Seq(1L, 2L, 3L), "doc 4 matches nothing and must be absent")
    assert(got.head._2 > got(1)._2, "the needle doc must outscore common-term-only docs")
    // docs 2 and 3 have identical tf/dl for "alpha" — equal scores, id tie-break
    assert(got(1)._2 === got(2)._2)
  }

  test("higher tf wins at equal length; shorter doc wins at equal tf (b > 0)") {
    val tf = run(Seq(
      (1L, "x x x pad pad pad"),
      (2L, "x pad pad pad pad pad")), Seq("x"))
    assert(tf.map(_._1) === Seq(1L, 2L), "tf saturation must still rank 3 > 1 occurrences")
    val len = run(Seq(
      (1L, "x pad"),
      (2L, "x pad pad pad pad pad pad pad")), Seq("x"))
    assert(len.map(_._1) === Seq(1L, 2L), "length norm must favor the shorter doc")
    // b = 0 disables length normalization: same tf ⇒ exact tie
    val flat = run(Seq(
      (1L, "x pad"),
      (2L, "x pad pad pad pad pad pad pad")), Seq("x"), bE3 = 0L)
    assert(flat.map(_._2).distinct.size === 1, "b=0 must ignore document length")
  }

  test("df=0 query terms change nothing; k caps the result") {
    val corpus = (1L to 8L).map(i => (i, s"alpha common$i common$i"))
    val base = run(corpus, Seq("alpha"), k = 5)
    val extra = run(corpus, Seq("alpha", "absentterm"), k = 5)
    assert(base === extra, "a term matching no document must not shift any score")
    assert(base.size === 5)
  }

  test("matches the independent sequential restatement exactly (incl. ties and truncation)") {
    val corpus = (1L to 40L).map { i =>
      val words = (0 until (3 + (i % 7).toInt)).map(j => s"w${(i * 31 + j * 7) % 11}")
      (i, (if (i % 5 == 0) "rare " else "") + words.mkString(" "))
    }
    val q = Seq("rare", "w0", "w3")
    assert(run(corpus, q, k = 40) === seqBm25(corpus, q, k = 40))
  }

  test("idf table mirror agrees with the engine's driver half") {
    val corpus = Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e"), (4L, ""))
    val mirror = SequentialCorpus.bm25Idf(corpus.map(_._2), Seq("a", "c", "zz")).toMap
    // n = 3 non-empty docs; df(a) = 1, df(c) = 3, df(zz) = 0
    assert(mirror("a") === Retrieval.idfE6(3, 1))
    assert(mirror("c") === Retrieval.idfE6(3, 3))
    assert(mirror("zz") === Retrieval.idfE6(3, 0))
    assert(mirror("a") > mirror("c"), "rarer term must carry larger idf")
  }

  test("rrfFuse: exact integer arithmetic, cross-list accumulation wins, k bound") {
    val s = spark
    import s.implicits._
    // list A ranks docs 1,2,3; list B ranks 2,4: doc 2 accumulates both
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def c(rank: Long) = 1000000L / (60L + rank)
    assert(got === Seq(
      (2L, c(2) + c(1)), // 16129 + 16393 = on both lists — first
      (1L, c(1)),        // 16393
      (4L, c(2)),        // 16129
      (3L, c(3))))       // 15873
    assert(Retrieval.rrfFuse(Seq(a, b), k = 2).count() === 2L)
    // exact-tie doc_ids order ascending: two docs only on one list at equal rank
    val t1 = Seq((5L, 1L)).toDF("doc_id", "rank")
    val t2 = Seq((3L, 1L)).toDF("doc_id", "rank")
    val tied = Retrieval.rrfFuse(Seq(t1, t2), k = 2).collect().map(_.getLong(0)).toSeq
    assert(tied === Seq(3L, 5L))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq.empty))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq(a), k = 0))
  }

  test("maxPassageTopK: a concentrated passage beats the same terms spread thin (the MaxP property)") {
    val filler1 = (0 until 200).map(i => s"f$i").mkString(" ")
    val filler2 = (0 until 100).map(i => s"g$i").mkString(" ")
    // doc 1: all three query terms ADJACENT mid-document — one window holds
    // them all. doc 2: the same three terms, one per far-apart region —
    // no window holds more than one. Whole-document BM25 sees identical
    // tf/dl for both; MaxP must prefer the concentrated passage.
    val corpus = Seq(
      1L -> s"$filler1 dup spark merge $filler1",
      2L -> s"dup $filler1 spark $filler2 merge $filler1",
      3L -> "unrelated words only here")
    val got = Retrieval.maxPassageTopK(docs(corpus), Seq("dup", "spark", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byDoc.contains(1L) && byDoc.contains(2L))
    assert(!byDoc.contains(3L), "docs with no query term never score")
    assert(byDoc(1L)._2 > byDoc(2L)._2,
      s"concentrated passage must outscore spread terms, got $byDoc")
    assert(got.head._1 === 1L, "doc 1 must rank first")
    // the reported best chunk of doc 1 is a REAL window index (>= 0) —
    // the smallest chunk attaining the max by contract
    assert(byDoc(1L)._1 >= 0L)
    // deterministic end to end
    val again = Retrieval.maxPassageTopK(docs(corpus), Seq("dup", "spark", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === got.toSeq)
  }

  test("maxSimTopK: self excluded, duplicate docs tie, superset monotone, deterministic") {
    // queries = docs 0..1; docs 10 and 11 are identical (must tie on every
    // query); doc 13 = doc 12 + one extra token (MaxSim is a per-query-token
    // MAX over the doc's tokens, so a token superset can never score lower)
    val corpus = Seq(
      0L -> "alpha beta gamma delta",
      1L -> "epsilon zeta eta theta",
      10L -> "alpha beta kappa",
      11L -> "alpha beta kappa",
      12L -> "gamma delta sigma",
      13L -> "gamma delta sigma omega")
    val got = Retrieval.maxSimTopK(docs(corpus), numQueries = 2, k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet === Set(0L, 1L))
    byQ.foreach { case (q, rs) =>
      assert(!rs.exists(_._2 == q), s"query $q must exclude itself")
      assert(rs.map(_._3).sorted.toSeq === (1L to rs.length), s"ranks contiguous for $q")
    }
    val scores = got.map(t => (t._1, t._2) -> t._4).toMap
    assert(scores((0L, 10L)) === scores((0L, 11L)), "identical docs must tie")
    assert(scores((1L, 10L)) === scores((1L, 11L)), "identical docs must tie on every query")
    assert(scores((0L, 13L)) >= scores((0L, 12L)), "a token superset can never score lower")
    assert(scores((1L, 13L)) >= scores((1L, 12L)))
    // deterministic end to end
    val again = Retrieval.maxSimTopK(docs(corpus), numQueries = 2, k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq === got.toSeq)
  }

  test("persisted BM25 index: indexed query is bit-identical, reads only the index, appends atomically") {
    val corpus = (1L to 60L).map { i =>
      val words = (0 until (3 + (i % 9).toInt)).map(j => s"w${(i * 17 + j * 5) % 13}")
      (i, (if (i % 4 == 0) "rare " else "") + words.mkString(" "))
    }
    val q = Seq("rare", "w0", "w5")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25idx-spec").toString

    // production-scale builds write many range-clustered files; at this
    // corpus size AQE rightly coalesces to one — disable it for the build
    // so the pruning asserts below see a multi-file layout
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val v0 = try Retrieval.buildBm25Index(docs(corpus), root)
      finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(v0 === 0L)
    val indexed = Retrieval.bm25TopKIndexed(spark, root, q, k = 60)
    val inline = Retrieval.bm25TopK(docs(corpus), q, k = 60)
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // bit-identical to the inline operator (shared scoring tail, same df)
    assert(rows(indexed) === rows(inline))
    // the SQL TVF surface returns the identical frame (IndexTvfs contract)
    val viaSql = spark.sql(s"SELECT * FROM bm25_topk('$root', '${q.mkString(",")}', 60)")
    assert(viaSql.collect().toSeq === indexed.collect().toSeq,
      "bm25_topk TVF must equal the Scala API row-for-row")
    // zero corpus jobs at query time: every file the indexed query reads
    // lives under the committed index — the raw documents are NOT an input
    val files = indexed.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("postings")),
      s"indexed query must read committed postings only, saw ${files.mkString(", ")}")
    // the log's per-file th stats PRUNE the postings read: the layout is
    // range-clustered by term hash, so a one-term point lookup must touch
    // strictly fewer committed files than the table holds
    val allFiles = new graft.operators.CommitTable(spark, s"$root/postings", "th")
      .read().inputFiles.toSet
    val oneTerm = Retrieval.bm25TopKIndexed(spark, root, Seq("rare"), k = 60).inputFiles.toSet
    assert(allFiles.size > 1, s"pruning test needs a multi-file table, saw ${allFiles.size}")
    assert(oneTerm.nonEmpty && oneTerm.subsetOf(allFiles) && oneTerm.size < allFiles.size,
      s"log-stats pruning must skip unprobed files: touched ${oneTerm.size} of ${allFiles.size}")
    // the driver-side stats read is commit-count-sized: ≤ 3 jobs (log
    // collect + 1-row aggregate + slack) — the s12 job-count discipline
    val sc = spark.sparkContext
    sc.setJobGroup("bm25-stats", "committed stats read")
    new graft.operators.CommitTable(spark, s"$root/stats", "n_docs")
      .read().agg(org.apache.spark.sql.functions.sum("n_docs")).head()
    sc.clearJobGroup()
    var prev = -1
    var cur = sc.statusTracker.getJobIdsForGroup("bm25-stats").length
    val deadline = System.nanoTime() + 30e9.toLong
    while (cur != prev && System.nanoTime() < deadline) {
      prev = cur; Thread.sleep(200)
      cur = sc.statusTracker.getJobIdsForGroup("bm25-stats").length
    }
    // schema-inference + log collect + the 1-row aggregate (+ AQE slack);
    // a corpus-stats recompute would add corpus-scan jobs on top
    assert(cur <= 5, s"stats read must be metadata-small, saw $cur jobs")

    // refresh: build on half, append the other half — BM25 has no trained
    // component, so the refreshed index EQUALS a full rebuild, and both
    // equal the inline operator over the union
    val root2 = java.nio.file.Files.createTempDirectory("graft-bm25app-spec").toString
    val (h1, h2) = corpus.partition(_._1 % 2 == 0)
    Retrieval.buildBm25Index(docs(h1), root2)
    val v1 = Retrieval.appendBm25Index(docs(h2), root2) // ONE atomic postings append
    assert(v1 === 1L)
    assert(rows(Retrieval.bm25TopKIndexed(spark, root2, q, k = 60)) === rows(inline))
    // the pre-append index stays queryable via the log's asOf: stats sum at
    // version 0 covers only the first half
    val s0 = new graft.operators.CommitTable(spark, s"$root2/stats", "n_docs")
      .asOf(0L).collect()
    assert(s0.length === 1 && s0.head.getLong(0) === h1.size.toLong)
  }

  test("persisted BM25 property: any append split order equals the inline operator") {
    // three-way split committed in two different orders — no trained
    // component means every history must converge to the same index
    val corpus = (1L to 45L).map { i =>
      val words = (0 until (3 + (i % 8).toInt)).map(j => s"w${(i * 19 + j * 3) % 11}")
      (i, (if (i % 6 == 0) "rare " else "") + words.mkString(" "))
    }
    val q = Seq("rare", "w2", "w7")
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inline = rows(Retrieval.bm25TopK(docs(corpus), q, k = 45))
    val parts = Seq(
      corpus.filter(_._1 % 3 == 0), corpus.filter(_._1 % 3 == 1), corpus.filter(_._1 % 3 == 2))
    for ((order, tag) <- Seq(Seq(0, 1, 2) -> "fwd", Seq(2, 0, 1) -> "rot")) {
      val root = java.nio.file.Files.createTempDirectory(s"graft-bm25prop-$tag").toString
      Retrieval.buildBm25Index(docs(parts(order.head)), root)
      order.tail.foreach(p => Retrieval.appendBm25Index(docs(parts(p)), root))
      assert(rows(Retrieval.bm25TopKIndexed(spark, root, q, k = 45)) === inline,
        s"split order $tag diverged from the inline operator")
    }
  }

  test("BM25 delete lifecycle: Lucene semantics before the merge, rebuild-exact after it") {
    val corpus = (1L to 40L).map { i =>
      val words = (0 until (3 + (i % 7).toInt)).map(j => s"w${(i * 11 + j * 3) % 9}")
      (i, (if (i % 5 == 0) "rare " else "") + words.mkString(" "))
    }
    val q = Seq("rare", "w0", "w4")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25del-spec").toString
    Retrieval.buildBm25Index(docs(corpus), root)
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val delIds = corpus.map(_._1).filter(_ % 4 == 0).toSet
    val postings = new graft.operators.CommitTable(spark, s"$root/postings", "th")
    val postingsHead = postings.latestVersion().get
    Retrieval.deleteFromBm25Index(
      docs(corpus.filter(d => delIds(d._1))).select("doc_id"), root)
    assert(postings.latestVersion().get === postingsHead,
      "the delete must be one tombstone commit — no postings rewrite")
    // pre-merge Lucene semantics: deleted docs never surface, df excludes
    // them, but corpus n/sum_dl are the STALE committed stats — restate the
    // exact expected scores with the sequential mirror under that rule
    val pre = rows(Retrieval.bm25TopKIndexed(spark, root, q, k = 40))
    assert(pre.nonEmpty && pre.forall(r => !delIds(r._1)))
    val survivors = corpus.filter(d => !delIds(d._1))
    val toksAll = corpus.map { case (id, t) =>
      (id, t.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty))
    }.filter(_._2.nonEmpty)
    val staleN = toksAll.size.toLong
    val staleSumDl = toksAll.map(_._2.size.toLong).sum
    val survToks = toksAll.filter(d => !delIds(d._1))
    val idf = q.map(t => t -> Retrieval.idfE6(staleN, survToks.count(_._2.contains(t)).toLong)).toMap
    val expectedPre = survToks.flatMap { case (id, ws) =>
      val dl = ws.size.toLong
      val normE3 = 250L + 750L * dl * staleN / staleSumDl
      val sE12 = q.map { t =>
        val tf = ws.count(_ == t).toLong
        if (tf == 0) 0L
        else idf(t) * (tf * 2200L * 1000000000L / (tf * 1000000L + 1200L * normE3))
      }.sum
      if (q.exists(ws.contains)) Some((id, sE12 / 1000000L)) else None
    }.sortBy { case (id, s) => (-s, id) }
    assert(pre === expectedPre,
      "pre-merge scores must use survivor df with STALE corpus stats (the Lucene rule)")
    // consolidation restores rebuild-exact state
    Retrieval.consolidateBm25Index(spark, root)
    val post = rows(Retrieval.bm25TopKIndexed(spark, root, q, k = 40))
    val rebuiltRoot = java.nio.file.Files.createTempDirectory("graft-bm25del-rb").toString
    Retrieval.buildBm25Index(docs(survivors), rebuiltRoot)
    assert(post === rows(Retrieval.bm25TopKIndexed(spark, rebuiltRoot, q, k = 40)),
      "the consolidated index must be bit-identical to a rebuild on the survivors")
    assert(post === rows(Retrieval.bm25TopK(docs(survivors), q, k = 40)),
      "...and to the inline operator over the survivors")
    // delete list cleared → consolidating again is a no-op
    val v = postings.latestVersion().get
    assert(Retrieval.consolidateBm25Index(spark, root) === v)
  }

  test("passage index: the committed probe is bit-identical to inline MaxP; append == rebuild; raw docs are never an input") {
    // docs long enough to produce several overlapping 30-token windows
    val corpus = (1L to 24L).map { i =>
      val words = (0 until (35 + (i % 4).toInt * 20)).map(j => s"w${(i * 17 + j * 5) % 13}")
      (i, (if (i % 4 == 0) "rare " else "") + words.mkString(" "))
    }
    val q = Seq("rare", "w0", "w7")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val inline = rows(Retrieval.maxPassageTopK(docs(corpus), q, k = 24))
    assert(inline.nonEmpty)
    // build+append split — the incremental path must equal the one-shot.
    // Production-scale builds write many range-clustered files; at this
    // corpus size AQE rightly coalesces to one — disable it for the build
    // so the pruning asserts below see a multi-file layout (the doc-level
    // index test's discipline).
    val root = java.nio.file.Files.createTempDirectory("graft-maxp-idx").toString
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      Retrieval.buildPassageIndex(docs(corpus.filter(_._1 % 2 == 0)), root)
      Retrieval.appendPassageIndex(docs(corpus.filter(_._1 % 2 != 0)), root)
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val viaIndex = Retrieval.maxPassageTopKIndexed(spark, root, q, k = 24)
    assert(rows(viaIndex) === inline,
      "the committed passage index must reproduce the inline operator bit-for-bit")
    // rebuild equality (no trained component)
    val rb = java.nio.file.Files.createTempDirectory("graft-maxp-rb").toString
    Retrieval.buildPassageIndex(docs(corpus), rb)
    assert(rows(Retrieval.maxPassageTopKIndexed(spark, rb, q, k = 24)) === inline)
    // index-only IO: every scanned file lives under the index root —
    // the raw documents table is not an input at query time
    val scanned = viaIndex.inputFiles
    assert(scanned.nonEmpty && scanned.forall(_.contains(root)),
      s"query must read only the committed index, got ${scanned.mkString(", ")}")
    // file pruning bites: a ONE-term point lookup reads a strict subset
    // of the committed postings files (th-range-clustered layout)
    val allPostings = new graft.operators.CommitTable(spark, s"$root/postings", "th")
      .read().inputFiles.toSet
    assert(scanned.toSet.subsetOf(allPostings))
    assert(allPostings.size > 1, s"pruning test needs a multi-file table, saw ${allPostings.size}")
    val oneTerm = Retrieval.maxPassageTopKIndexed(spark, root, Seq("rare"), k = 24)
      .inputFiles.toSet
    assert(oneTerm.nonEmpty && oneTerm.subsetOf(allPostings) && oneTerm.size < allPostings.size,
      s"per-term point lookups must file-prune: touched ${oneTerm.size} of ${allPostings.size}")
  }

  test("passage-index delete lifecycle: tombstone commit, deleted docs leave results immediately, consolidation == rebuild on survivors") {
    val corpus = (1L to 24L).map { i =>
      val words = (0 until (35 + (i % 4).toInt * 20)).map(j => s"w${(i * 17 + j * 5) % 13}")
      (i, (if (i % 4 == 0) "rare " else "") + words.mkString(" "))
    }
    val q = Seq("rare", "w0", "w7")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-maxpdel-spec").toString
    Retrieval.buildPassageIndex(docs(corpus), root)
    val delIds = corpus.map(_._1).filter(_ % 3 == 0).toSet
    val postings = new graft.operators.CommitTable(spark, s"$root/postings", "th")
    val postingsHead = postings.latestVersion().get
    Retrieval.deleteFromPassageIndex(
      docs(corpus.filter(d => delIds(d._1))).select("doc_id"), root)
    assert(postings.latestVersion().get === postingsHead,
      "the delete must be one tombstone commit — no postings rewrite")
    // the delete IS an index version pinning the delete list
    val pinned = graft.operators.IndexManifest.resolve(spark, root)
    assert(pinned.contains("tombstones"))
    // pre-merge Lucene rule: deleted docs' passages never surface (stale
    // n_chunks/sum_dl — the arithmetic contract is the BM25 lifecycle
    // test's; this pins the chunk-granular exclusion)
    val pre = rows(Retrieval.maxPassageTopKIndexed(spark, root, q, k = 24))
    assert(pre.nonEmpty && pre.forall(r => !delIds(r._1)))
    // post-merge: bit-identical to a fresh build on the survivors
    Retrieval.consolidatePassageIndex(spark, root)
    assert(graft.llm.Tombstones.read(spark, root, "doc_id").forall(_.isEmpty))
    val post = rows(Retrieval.maxPassageTopKIndexed(spark, root, q, k = 24))
    val rb = java.nio.file.Files.createTempDirectory("graft-maxpdel-rb").toString
    Retrieval.buildPassageIndex(docs(corpus.filter(d => !delIds(d._1))), rb)
    assert(post === rows(Retrieval.maxPassageTopKIndexed(spark, rb, q, k = 24)),
      "consolidation must leave the index rebuild-exact on the survivors")
    // idempotent: nothing tombstoned → no-op at the current head
    val v = postings.latestVersion().get
    assert(Retrieval.consolidatePassageIndex(spark, root) === v)
  }

  test("passage append after a delete keeps the tombstone member pinned (append must not fall back to the live list)") {
    val corpus = (1L to 20L).map { i =>
      (i, (0 until 30).map(j => s"w${(i * 11 + j * 3) % 9}").mkString(" "))
    }
    val root = java.nio.file.Files.createTempDirectory("graft-maxpapp-spec").toString
    Retrieval.buildPassageIndex(docs(corpus), root)
    val delIds = Set(3L, 6L, 9L)
    Retrieval.deleteFromPassageIndex(
      docs(corpus.filter(d => delIds(d._1))).select("doc_id"), root)
    // the append commits a NEW index version; dropping the tombstones
    // member here (the reviewed bug) would hand every manifest-resolved
    // reader the LIVE delete list — which a racing consolidation clears
    Retrieval.appendPassageIndex(docs(Seq((100L,
      (0 until 30).map(j => s"w${j % 9}").mkString(" ")))), root)
    import graft.operators.IndexManifest
    val atAppend = IndexManifest.versions(spark, root).last
    assert(IndexManifest.resolve(spark, root, Some(atAppend)).contains("tombstones"),
      "post-append manifest must keep the delete-list pin")
    val q = Seq("w0", "w3")
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
    val pre = ids(Retrieval.maxPassageTopKIndexed(spark, root, q, k = 30))
    assert(pre.contains(100L) && pre.intersect(delIds).isEmpty)
    Retrieval.consolidatePassageIndex(spark, root)
    val post = ids(Retrieval.maxPassageTopKIndexed(spark, root, q, k = 30))
    assert(post.contains(100L) && post.intersect(delIds).isEmpty)
  }

  test("BM25 tombstones are manifest members: an old pinned version can never pair its postings with a later-cleared delete list (r14 advice)") {
    val corpus = (1L to 30L).map { i =>
      (i, (0 until (3 + (i % 5).toInt)).map(j => s"w${(i * 7 + j) % 8}").mkString(" "))
    }
    val q = Seq("w0", "w3")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25tomb-spec").toString
    Retrieval.buildBm25Index(docs(corpus), root)
    val delIds = corpus.map(_._1).filter(_ % 3 == 0).toSet
    Retrieval.deleteFromBm25Index(
      docs(corpus.filter(d => delIds(d._1))).select("doc_id"), root)
    import graft.operators.IndexManifest
    // the delete is itself an index version pinning the delete list
    val atDelete = IndexManifest.versions(spark, root).last
    val pinned = IndexManifest.resolve(spark, root, Some(atDelete))
    assert(pinned.contains("tombstones"),
      s"post-delete manifest must pin the delete list, got $pinned")
    // simulate the racing reader: it resolved the manifest BEFORE the
    // consolidation, then consolidation rewrites postings and CLEARS the
    // live delete list; the reader's pinned tombstone version must still
    // carry the deleted ids, so its view never resurrects them
    Retrieval.consolidateBm25Index(spark, root)
    val postings = new graft.operators.CommitTable(spark, s"$root/postings", "th")
    val stale = graft.llm.Tombstones.excludeAt(
      postings.asOf(pinned("postings")), root, "doc_id", "doc_id",
      pinned.get("tombstones"))
    val staleIds = stale.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(staleIds.intersect(delIds).isEmpty,
      "old pinned postings + pinned delete list must still exclude deleted docs")
    // the live list IS cleared — without the pin this exact read resurrected
    val live = graft.llm.Tombstones.read(spark, root, "doc_id")
    assert(live.forall(_.isEmpty), "consolidation clears the live delete list")
    // and the new head pins the CLEARED list next to the rewritten postings
    val headPin = IndexManifest.resolve(spark, root)
    assert(headPin.contains("tombstones"))
    val headRows = rows2(Retrieval.bm25TopKIndexed(spark, root, q, k = 30))
    assert(headRows.nonEmpty && headRows.forall(r => !delIds(r._1)))
  }

  private def rows2(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("BM25 index versions: the manifest pins postings WITH their stats; the v0 query is the build-half index exactly") {
    val corpus = (1L to 50L).map { i =>
      val words = (0 until (3 + (i % 6).toInt)).map(j => s"w${(i * 13 + j * 7) % 11}")
      (i, (if (i % 3 == 0) "rare " else "") + words.mkString(" "))
    }
    val q = Seq("rare", "w0", "w6")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25ver-spec").toString
    val half = corpus.filter(_._1 % 2 == 0)
    Retrieval.buildBm25Index(docs(half), root)
    import graft.operators.IndexManifest
    assert(IndexManifest.versions(spark, root) === Seq(0L))
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val preAppend = rows(Retrieval.bm25TopKIndexed(spark, root, q, k = 50))
    Retrieval.appendBm25Index(docs(corpus.filter(_._1 % 2 != 0)), root)
    // the append pinned the new postings AND the stats delta together —
    // the exact pair an unpinned racing reader could tear apart
    assert(IndexManifest.resolve(spark, root, Some(1L))
      === Map("postings" -> 1L, "stats" -> 1L))
    assert(rows(Retrieval.bm25TopKIndexedAt(spark, root, 0L, q, k = 50)) === preAppend,
      "the v0 query must replay the build-half index exactly")
    assert(rows(Retrieval.bm25TopKIndexedAt(spark, root, 1L, q, k = 50))
      === rows(Retrieval.bm25TopKIndexed(spark, root, q, k = 50)))
    // ...and equals a standalone index built on the same half (no trained
    // component: pinned state ≡ rebuild)
    val rb = java.nio.file.Files.createTempDirectory("graft-bm25ver-rb").toString
    Retrieval.buildBm25Index(docs(half), rb)
    assert(preAppend === rows(Retrieval.bm25TopKIndexed(spark, rb, q, k = 50)))
    // the SQL VERSION AS OF surface returns the identical frame
    assert(rows(spark.sql(s"SELECT * FROM bm25_topk_at('$root', 0, '${q.mkString(",")}', 50)"))
      === preAppend)
  }

  test("input guards reject bad queries loudly") {
    val d = docs(Seq((1L, "a b")))
    intercept[IllegalArgumentException](Retrieval.bm25TopK(d, Seq.empty))
    intercept[IllegalArgumentException](Retrieval.bm25TopK(d, Seq("a", "a")))
    intercept[IllegalArgumentException](Retrieval.bm25TopK(d, Seq("Bad Term")))
    intercept[IllegalArgumentException](Retrieval.bm25TopK(d, Seq("a"), k = 0))
    intercept[IllegalArgumentException](Retrieval.bm25TopK(d, Seq("a"), bE3 = 1001L))
  }

  test("the persisted-index entries share the inline operator's input guards, At included") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-guards").toString
    Retrieval.buildBm25Index(docs(Seq((1L, "a b"), (2L, "a c"))), root)
    val bad = Seq[(String, Seq[String], Int, Long)](
      ("repeated term", Seq("a", "a"), 10, 750L), ("non-token term", Seq("Bad Term"), 10, 750L),
      ("empty term", Seq(""), 10, 750L), ("k = 0", Seq("a"), 0, 750L), ("bE3 > 1000", Seq("a"), 10, 1001L))
    bad.foreach { case (what, q, k, bE3) =>
      intercept[IllegalArgumentException](Retrieval.bm25TopKIndexed(spark, root, q, k, bE3 = bE3))
      withClue(s"bm25TopKIndexedAt, $what: ") {
        intercept[IllegalArgumentException](Retrieval.bm25TopKIndexedAt(spark, root, 0L, q, k, bE3 = bE3))
      }
    }
  }
}
