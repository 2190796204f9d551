package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.llm.{KnnGraph, Retrieval, Similarity}
import graft.operators.{CommitTable, IndexManifest}

/** The persisted-index search entries side by side: for each family
  * (k-NN graph, IVF, BM25 / passage postings) the head, `At` and `For`
  * entries must agree wherever their contracts overlap, differ exactly
  * where the delete list applies, and run no more Spark jobs per call than
  * the bounds recorded below.
  */
class IndexSearchSpec extends SparkSpec {

  private def embDF(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  private def docsDF(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val dim = 16

  /** Six Gaussian clusters, membership decorrelated from ids. */
  private def vecs(n: Int, seed: Int = 11, idBase: Long = 0L): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(6, dim)(rng.nextGaussian() * 2)
    (0 until n).map { i =>
      (idBase + i, centers(i % 6).map(c => (c + rng.nextGaussian()).toFloat))
    }
  }

  private val words = Seq("alpha", "beta", "gamma", "delta", "needle", "omega", "sigma", "tau")

  private def corpus(n: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(5)
    (0 until n).map(i => (i.toLong, Seq.fill(8 + i % 7)(words(rng.nextInt(words.length))).mkString(" ")))
  }

  private val terms = Seq("needle", "gamma", "tau")

  private def root(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-idxsearch-$tag").toString

  private def knnIndex(): String = {
    val r = root("knng")
    KnnGraph.buildKnnGraphIndex(embDF(vecs(60)), r, k = 5, rounds = 2, numEntries = 4)
    r
  }

  private def ivfIndex(): String = {
    val r = root("ivf")
    Similarity.buildIvfIndex(embDF(vecs(60)), r, nlist = 6, iters = 1, dim = dim)
    r
  }

  private def bm25Index(): String = {
    val r = root("bm25")
    Retrieval.buildBm25Index(docsDF(corpus(40)), r)
    r
  }

  private def passageIndex(): String = {
    val r = root("passage")
    Retrieval.buildPassageIndex(docsDF(corpus(40)), r, chunkK = 6, stride = 4)
    r
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  private def latest(r: String): Long = IndexManifest.versions(spark, r).last

  private def members(n: Int): DataFrame =
    embDF(vecs(60)).filter(col("vec_id") < n)

  test("each At entry at the latest index version equals its head entry on a tombstone-free index") {
    val knn = knnIndex(); val ivf = ivfIndex(); val bm = bm25Index()
    val cases = Seq[(String, () => DataFrame, () => DataFrame)](
      ("knnGraphSearchAt",
        () => KnnGraph.knnGraphSearch(spark, knn, numQueries = 10, k = 4),
        () => KnnGraph.knnGraphSearchAt(spark, knn, latest(knn), numQueries = 10, k = 4)),
      ("ivfTopKIndexedAt",
        () => Similarity.ivfTopKIndexed(spark, ivf, numQueries = 10, k = 4, nprobe = 3),
        () => Similarity.ivfTopKIndexedAt(spark, ivf, latest(ivf), numQueries = 10, k = 4, nprobe = 3)),
      ("bm25TopKIndexedAt",
        () => Retrieval.bm25TopKIndexed(spark, bm, terms, k = 8),
        () => Retrieval.bm25TopKIndexedAt(spark, bm, latest(bm), terms, k = 8)))
    cases.foreach { case (name, head, at) =>
      val h = rows(head())
      assert(h.nonEmpty, s"$name: the head entry must return rows")
      assert(rows(at()) === h, s"$name at the latest version must equal the head entry")
    }
  }

  test("For entries on member query frames equal their head entries") {
    val knn = knnIndex(); val ivf = ivfIndex()
    val cases = Seq[(String, () => DataFrame, () => DataFrame)](
      ("knnGraphSearchFor",
        () => KnnGraph.knnGraphSearch(spark, knn, numQueries = 10, k = 4),
        () => KnnGraph.knnGraphSearchFor(spark, knn, members(10), k = 4)),
      ("ivfSearchFor",
        () => Similarity.ivfTopKIndexed(spark, ivf, numQueries = 10, k = 4, nprobe = 3),
        () => Similarity.ivfSearchFor(spark, ivf, members(10), k = 4, nprobe = 3)))
    cases.foreach { case (name, head, forQ) =>
      val h = rows(head())
      assert(h.nonEmpty, s"$name: the head entry must return rows")
      assert(rows(forQ()) === h, s"$name on member queries must equal the head entry")
    }
  }

  test("with tombstones present the head entries exclude them and the At entries do not") {
    val knn = knnIndex(); val ivf = ivfIndex(); val bm = bm25Index()
    // (name, head, At at the latest version, delete, id columns of a result row)
    val cases = Seq[(String, () => DataFrame, () => DataFrame, Seq[Long] => Unit, Seq[String])](
      ("knnGraph",
        () => KnnGraph.knnGraphSearch(spark, knn, numQueries = 10, k = 4),
        () => KnnGraph.knnGraphSearchAt(spark, knn, latest(knn), numQueries = 10, k = 4),
        ids => KnnGraph.deleteFromKnnGraphIndex(idFrame(ids, "vec_id"), knn),
        Seq("query_id", "neighbor_id")),
      ("ivf",
        () => Similarity.ivfTopKIndexed(spark, ivf, numQueries = 10, k = 4, nprobe = 3),
        () => Similarity.ivfTopKIndexedAt(spark, ivf, latest(ivf), numQueries = 10, k = 4, nprobe = 3),
        ids => Similarity.deleteFromIvfIndex(idFrame(ids, "vec_id"), ivf),
        Seq("query_id", "neighbor_id")),
      ("bm25",
        () => Retrieval.bm25TopKIndexed(spark, bm, terms, k = 8),
        () => Retrieval.bm25TopKIndexedAt(spark, bm, latest(bm), terms, k = 8),
        ids => Retrieval.deleteFromBm25Index(idFrame(ids, "doc_id"), bm),
        Seq("doc_id")))
    cases.foreach { case (name, head, at, delete, idCols) =>
      val before = head()
      def ids(df: DataFrame): Set[Long] =
        idCols.flatMap(c => df.select(c).collect().map(_.getLong(0))).toSet
      // delete a query id (when the family has member queries) and a result id
      val gone = (idCols.map(c => before.select(c).head().getLong(0)) ++
        before.select(idCols.last).collect().map(_.getLong(0)).take(2)).distinct
      val beforeRows = rows(before)
      delete(gone)
      val headAfter = head()
      assert(ids(headAfter).intersect(gone.toSet).isEmpty,
        s"$name: tombstoned ids $gone must not query or surface in head results")
      assert(rows(headAfter).nonEmpty, s"$name: the head must still return survivors")
      val atAfter = at()
      assert(ids(atAfter).intersect(gone.toSet).nonEmpty,
        s"$name: the At entry replays the index as committed and ignores tombstones")
      assert(rows(atAfter) === beforeRows,
        s"$name: the At entry at the latest version equals the pre-delete head")
    }
  }

  private def idFrame(ids: Seq[Long], c: String): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF(c)
  }

  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** A byte budget no file fits: every read of the k-NN graph walk takes
    * the Spark path. */
  private val sparkOnly = CommitTable.Budget(bytes = 0L, rows = CommitTable.DriverBudget.rows)

  private def knnEntries(knn: String, budget: CommitTable.Budget): Seq[(String, DataFrame)] = Seq(
    "knnGraphSearch" -> KnnGraph.memberSearch(spark, knn, None, 10, 4, 8, 3, None, budget),
    "knnGraphSearch filtered" -> KnnGraph.memberSearch(spark, knn, None, 10, 4, 8, 3,
      Some(col("vec_id") % 3 === 1), budget),
    "knnGraphSearchAt" -> KnnGraph.memberSearch(spark, knn, Some(latest(knn)), 10, 4, 8, 3,
      None, budget),
    "knnGraphSearchFor" -> KnnGraph.externalSearch(spark, knn, members(10), 4, 8, 3, budget))

  test("the k-NN graph entries return the same rows and schema whether the walk reads on the driver or in Spark") {
    val knn = knnIndex()
    def check(state: String): Unit =
      knnEntries(knn, sparkOnly).zip(knnEntries(knn, CommitTable.DriverBudget)).foreach {
        case ((name, viaSpark), (_, onDriver)) =>
          val expect = viaSpark.collect().toSeq
          assert(expect.nonEmpty, s"$name ($state) must return rows")
          assert(onDriver.schema === viaSpark.schema, s"$name ($state): schema")
          // the schema the Spark rank tail (window + floor) produced
          assert(onDriver.schema === StructType(Seq("query_id", "neighbor_id", "rank")
            .map(StructField(_, LongType, nullable = false)) :+ StructField("cos_1e6", LongType)),
            s"$name ($state): the search schema")
          assert(onDriver.collect().toSeq === expect, s"$name ($state): rows")
      }
    check("no tombstones")
    KnnGraph.deleteFromKnnGraphIndex(idFrame(Seq(2L, 17L, 33L, 41L), "vec_id"), knn)
    check("with tombstones")
  }

  test("a k-NN graph search whose reads fit the driver budget runs at most two Spark jobs") {
    val knn = knnIndex()
    KnnGraph.deleteFromKnnGraphIndex(idFrame(Seq(5L), "vec_id"), knn)
    val onDriver = Seq[(String, () => Any)](
      "knnGraphSearch" -> (() => KnnGraph.knnGraphSearch(spark, knn, numQueries = 10, k = 4).collect()),
      "knnGraphSearch filtered" -> (() => KnnGraph.knnGraphSearch(spark, knn, numQueries = 10, k = 4,
        predicate = Some(col("vec_id") % 3 === 1)).collect()),
      "knnGraphSearchAt" -> (() => KnnGraph.knnGraphSearchAt(spark, knn, latest(knn), numQueries = 10, k = 4).collect()),
      "knnGraphSearchFor" -> (() => KnnGraph.knnGraphSearchFor(spark, knn, members(10), k = 4).collect())
    ).map { case (name, body) => name -> jobsOf(body()) }
    assert(onDriver.forall(_._2 <= 2), s"driver-path searches ran more than 2 jobs: $onDriver")
    val viaSpark = jobsOf(KnnGraph.memberSearch(spark, knn, None, 10, 4, 8, 3, None, sparkOnly).collect())
    assert(viaSpark > 2, s"the Spark path must run jobs for the bound to mean anything: $viaSpark")
  }

  /** A row bound that makes the 4-entry, beam-8, 3-hop walks of this
    * spec run in chunks: 120 rows over 4 + 3·8 tuples a query cut a batch
    * into chunks of 4 queries up front, and a chunk whose hops reach more
    * vertices than that halves. */
  private val smallRows = CommitTable.Budget(bytes = CommitTable.DriverBudget.bytes, rows = 120L)

  test("the k-NN graph searches return the same rows when a small row bound makes them walk in chunks") {
    val knn = knnIndex()
    def check(state: String): Unit =
      knnEntries(knn, CommitTable.DriverBudget).zip(knnEntries(knn, smallRows)).foreach {
        case ((name, whole), (_, chunked)) =>
          val expect = whole.collect().toSeq
          assert(expect.map(_.getLong(0)).distinct.size >= 9, s"$name ($state): the queries answer")
          assert(chunked.collect().toSeq === expect, s"$name ($state): rows")
      }
    check("no tombstones")
    KnnGraph.deleteFromKnnGraphIndex(idFrame(Seq(2L, 17L, 33L, 41L), "vec_id"), knn)
    check("with tombstones")
  }

  test("a query batch past the row bound fails naming it, having kept one row past the bound") {
    val knn = knnIndex()
    val five = CommitTable.Budget(bytes = CommitTable.DriverBudget.bytes, rows = 5L)
    val e = intercept[CommitTable.DriverBudgetExceeded](
      KnnGraph.externalSearch(spark, knn, members(10), 4, 8, 3, five))
    assert(e.getMessage ===
      "knnGraphSearchFor queries: a batch of 6 rows exceeds the driver row bound DriverBudget.rows = 5")
  }

  test("appendKnnGraphIndex links the same edges whether its link search runs whole or in chunks; a bound below the entry set fails naming it") {
    val whole = knnIndex(); val parts = knnIndex()
    val batch = embDF(vecs(8, seed = 3, idBase = 1000L))
    val small = smallRows
    KnnGraph.appendLinked(batch, whole, 6, 8, 3, CommitTable.DriverBudget)
    KnnGraph.appendLinked(batch, parts, 6, 8, 3, small)
    def table(r: String, t: String) = rows(new CommitTable(spark, s"$r/$t", "x").read())
    Seq("graph", "vectors").foreach(t =>
      assert(table(parts, t) === table(whole, t), s"chunked append changed $t"))
    // no chunk fits a bound below the entry set: the append fails loudly
    // and commits nothing
    val graphHead = new CommitTable(spark, s"$parts/graph", "src").latestVersion()
    val tooSmall = CommitTable.Budget(bytes = CommitTable.DriverBudget.bytes, rows = 3L)
    val e2 = intercept[CommitTable.DriverBudgetExceeded](KnnGraph.appendLinked(
      embDF(vecs(2, seed = 4, idBase = 2000L)), parts, 6, 8, 3, tooSmall))
    assert(e2.getMessage.startsWith("knnGraph walk entries: ") &&
      e2.getMessage.endsWith("DriverBudget.rows = 3"), e2.getMessage)
    assert(new CommitTable(spark, s"$parts/graph", "src").latestVersion() === graphHead)
  }

  test("job counts of every search entry, append and consolidate stay at their bound") {
    val knn = knnIndex()
    KnnGraph.addPqToKnnGraphIndex(embDF(vecs(60)), knn, m = 4, ksub = 8, dim = dim)
    val ivf = ivfIndex(); val bm = bm25Index(); val psg = passageIndex()
    val knnMut = knnIndex()
    // the head entries again with a live delete list, which they resolve per search
    val knnDel = knnIndex()
    KnnGraph.addPqToKnnGraphIndex(embDF(vecs(60)), knnDel, m = 4, ksub = 8, dim = dim)
    KnnGraph.deleteFromKnnGraphIndex(idFrame(Seq(3L, 17L, 41L), "vec_id"), knnDel)
    val ivfDel = ivfIndex()
    Similarity.deleteFromIvfIndex(idFrame(Seq(3L, 17L, 41L), "vec_id"), ivfDel)
    val searches = Seq[(String, () => Any)](
      "knnGraphSearch" -> (() => KnnGraph.knnGraphSearch(spark, knn, numQueries = 10, k = 4).collect()),
      "knnGraphSearchFor" -> (() => KnnGraph.knnGraphSearchFor(spark, knn, members(10), k = 4).collect()),
      "knnGraphSearchAt" -> (() => KnnGraph.knnGraphSearchAt(spark, knn, latest(knn), numQueries = 10, k = 4).collect()),
      "pqGraphSearch" -> (() => KnnGraph.pqGraphSearch(spark, knn, numQueries = 10, k = 4, dim = dim).collect()),
      "ivfTopKIndexed" -> (() => Similarity.ivfTopKIndexed(spark, ivf, numQueries = 10, k = 4, nprobe = 3).collect()),
      "ivfSearchFor" -> (() => Similarity.ivfSearchFor(spark, ivf, members(10), k = 4, nprobe = 3).collect()),
      "ivfTopKIndexedAt" -> (() => Similarity.ivfTopKIndexedAt(spark, ivf, latest(ivf), numQueries = 10, k = 4, nprobe = 3).collect()),
      "bm25TopKIndexed" -> (() => Retrieval.bm25TopKIndexed(spark, bm, terms, k = 8).collect()),
      "bm25TopKIndexedAt" -> (() => Retrieval.bm25TopKIndexedAt(spark, bm, latest(bm), terms, k = 8).collect()),
      "maxPassageTopKIndexed" -> (() => Retrieval.maxPassageTopKIndexed(spark, psg, terms, k = 8).collect()),
      "knnGraphSearch tombstoned" -> (() => KnnGraph.knnGraphSearch(spark, knnDel, numQueries = 10, k = 4).collect()),
      "pqGraphSearch tombstoned" -> (() => KnnGraph.pqGraphSearch(spark, knnDel, numQueries = 10, k = 4, dim = dim).collect()),
      "ivfTopKIndexed tombstoned" -> (() => Similarity.ivfTopKIndexed(spark, ivfDel, numQueries = 10, k = 4, nprobe = 3).collect())
    ).map { case (name, body) => name -> jobsOf(body()) }
    val append = jobsOf(KnnGraph.appendKnnGraphIndex(embDF(vecs(8, seed = 3, idBase = 1000L)), knnMut))
    KnnGraph.deleteFromKnnGraphIndex(idFrame(Seq(3L, 17L, 1004L), "vec_id"), knnMut)
    val consolidate = jobsOf(KnnGraph.consolidateKnnGraphIndex(spark, knnMut))
    val measured = searches.toMap +
      ("appendKnnGraphIndex" -> append) + ("consolidateKnnGraphIndex" -> consolidate)
    // the k-NN graph entries' counts are those measured once the walk read
    // and ranked on the driver (before: knnGraphSearch 37, For 36, At 39,
    // pqGraphSearch 47, append 41; tombstoned knnGraphSearch 43,
    // pqGraphSearch 55, ivfTopKIndexed 19 while each resolved its delete
    // list twice); the rest are the counts before the entries shared one
    // body per family, consolidate's after its delete list resolved once
    val bound = Map(
      "knnGraphSearch" -> 0, "knnGraphSearchFor" -> 0, "knnGraphSearchAt" -> 2,
      "pqGraphSearch" -> 22, "appendKnnGraphIndex" -> 7, "consolidateKnnGraphIndex" -> 35,
      "ivfTopKIndexed" -> 13, "ivfSearchFor" -> 12, "ivfTopKIndexedAt" -> 15,
      "bm25TopKIndexed" -> 13, "bm25TopKIndexedAt" -> 13, "maxPassageTopKIndexed" -> 14,
      "knnGraphSearch tombstoned" -> 0, "pqGraphSearch tombstoned" -> 22,
      "ivfTopKIndexed tombstoned" -> 18)
    val over = measured.filter { case (n, j) => j > bound(n) }
    assert(over.isEmpty, s"job counts above bound: $over (bound $bound)")
  }
}
