package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.operators.CommitTable

/** ScalaCheck properties for the commit log's round-15 write-side
  * contracts, vs driver-side models — the TemporalJoinsProps discipline
  * applied to storage semantics:
  *
  *  - idempotent transactional appends ([[CommitTable.appendIdempotent]]):
  *    over ANY interleaving of fresh and replayed `(appId, txnV)` markers,
  *    exactly the model-fresh batches land — content, version count, and
  *    per-app markers all match the driver fold;
  *  - time-based retention ([[CommitTable.vacuumRetain]]): after a vacuum
  *    at an arbitrary horizon, a version reads iff it is in-horizon or is
  *    the head; kept content is bit-identical to what was committed.
  */
object CommitLogProps extends Properties("CommitLog") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withMaxDiscardRatio(10)

  private def spark = TestSpark.spark

  // (app, txnV) streams with deliberately tiny ranges so replays, stale
  // late arrivals, and cross-app interleavings all occur
  private val genOps: Gen[List[(String, Long)]] = for {
    n <- Gen.choose(0, 8)
    ops <- Gen.listOfN(n, for {
      app <- Gen.oneOf("app_a", "app_b")
      v <- Gen.choose(0L, 4L)
    } yield (app, v))
  } yield ops

  property("appendIdempotent == driver model over random (app, txnV) interleavings") =
    Prop.forAll(genOps) { ops =>
      val s = spark
      import s.implicits._
      val dir = Files.createTempDirectory("graft-txnprop").toString
      // checkpointEvery = 3 so marker resolution crosses checkpoint entries
      val t = new CommitTable(s, dir, "k", checkpointEvery = 3)
      val model = scala.collection.mutable.Map.empty[String, Long]
      var landed = 0
      var expect = Set.empty[Long]
      val perCall = ops.zipWithIndex.map { case ((app, v), i) =>
        val rows = Seq(i * 10L + 1, i * 10L + 2)
        val got = t.appendIdempotent(rows.map(k => (k, s"r$k")).toDF("k", "v"), app, v)
        val fresh = model.get(app).forall(_ < v)
        if (fresh) { model(app) = v; landed += 1; expect ++= rows }
        got.isDefined == fresh
      }
      val contentOk =
        if (landed == 0) t.latestVersion().isEmpty
        else t.read().collect().map(_.getLong(0)).toSet == expect &&
          t.versions().length == landed
      val markersOk = Seq("app_a", "app_b", "app_never")
        .forall(a => t.txnVersion(a) == model.get(a))
      perCall.forall(identity) && contentOk && markersOk
    }

  property("vacuumRetain: a version reads iff in-horizon or head; kept content intact") =
    Prop.forAll(Gen.choose(1, 5), Gen.choose(0L, 8000L)) { (nv, horizon) =>
      val s = spark
      import s.implicits._
      val dir = Files.createTempDirectory("graft-retainprop").toString
      val t = new CommitTable(s, dir, "k")
      // overwrites: every version owns its directory, so an expired
      // non-head version is exactly a reclaimed one (no carried files)
      (0 until nv).foreach { i =>
        t.overwrite(Seq((i.toLong, s"v$i")).toDF("k", "v"),
          tsMillis = Some(1000L * (i + 1)))
      }
      val now = 10000L
      t.vacuumRetain(horizon, now)
      val cutoff = now - horizon
      (0 until nv).forall { i =>
        val kept = 1000L * (i + 1) >= cutoff || i == nv - 1
        if (kept)
          t.asOf(i.toLong).collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
            Seq((i.toLong, s"v$i"))
        else scala.util.Try(t.asOf(i.toLong).collect()).isFailure
      }
    }

  // DV deletes vs a driver-side set model: over ANY sequence of range /
  // predicate DV deletes (overlapping, repeated, empty) interleaved with
  // an OPTIMIZE and a random-threshold PURGE (r18), every read — head,
  // asOf of every version, prunedRead — equals the model's surviving
  // keys, and data files never rewrite outside OPTIMIZE/purge. The
  // table runs checkpointEvery = 3, so longer delete runs cross the
  // sidecar's AUTO-FOLD boundary (a chain of 3 links folds to a
  // snapshot inside the history) and time travel resolves through
  // pre-fold chains.
  private val genDvOps: Gen[List[(Int, Long, Long)]] = for {
    n <- Gen.choose(0, 8)
    ops <- Gen.listOfN(n, for {
      // 0 = range DV, 1 = predicate DV, 2 = optimize, 3 = purge
      kind <- Gen.oneOf(0, 0, 0, 1, 2, 3)
      lo <- Gen.choose(1L, 30L)
      w <- Gen.choose(0L, 10L)
    } yield (kind, lo, lo + w))
  } yield ops

  property("deletion vectors match the set model at every version; files rewrite only on OPTIMIZE") =
    Prop.forAll(genDvOps) { ops =>
      val sp = spark
      import sp.implicits._
      val dir = Files.createTempDirectory("graft-prop-dv").toString
      // checkpointEvery = 3 doubles as the sidecar auto-fold bound: ≥4
      // consecutive DV deletes exercise the fold inside the history
      val t = new CommitTable(sp, dir, "k", checkpointEvery = 3)
      val all = (1L to 30L).map(i => (i, i * 7L))
      t.overwrite(all.toDF("k", "v").repartition(3))
      var live = all.map(_._1).toSet
      var filesAtLastRewrite = t.read().inputFiles.toSet.filterNot(_.contains("/_dv/"))
      val perVersion = scala.collection.mutable.Map(0L -> live)
      var ok = true
      ops.foreach { case (kind, lo, hi) =>
        val before = t.latestVersion().get
        kind match {
          case 0 =>
            t.deleteRangeDV(lo, hi)
            live = live.filterNot(k => k >= lo && k <= hi)
          case 1 =>
            t.deleteWhereDV(s"v >= ${lo * 7} AND v <= ${hi * 7}")
            live = live.filterNot(k => k * 7 >= lo * 7 && k * 7 <= hi * 7)
          case 2 =>
            t.compactClustered("k", 2)
            live = live // content-preserving
          case 3 =>
            // content-preserving like OPTIMIZE, but rewrites only the
            // files whose deleted fraction crosses the random threshold
            t.purgeDv((lo % 11L) / 10.0)
            live = live
        }
        val after = t.latestVersion().get
        perVersion(after) = live
        val files = t.read().inputFiles.toSet.filterNot(_.contains("/_dv/"))
        if (kind == 2 || kind == 3) filesAtLastRewrite = files
        else if (after != before) // a committed DV delete must not touch data files
          ok &&= files == filesAtLastRewrite
        ok &&= t.read().select("k").collect().map(_.getLong(0)).toSet == live
        ok &&= t.prunedRead(1L, 30L).select("k").collect().map(_.getLong(0)).toSet == live
      }
      // every recorded version still reads its own snapshot (time travel
      // through arbitrary DV histories)
      perVersion.foreach { case (v, expect) =>
        ok &&= t.asOf(v).select("k").collect().map(_.getLong(0)).toSet == expect
      }
      ok
    }

  // Column mapping vs a driver-side surface model: over ANY sequence of
  // renames, drops, appends (with fresh columns), and compactions, the
  // head's columns equal the model surface, every value projects through
  // correctly (spot-checked via a stable key aggregate), and every
  // recorded version still reads under ITS OWN historical names.
  private val genCmapOps: Gen[List[Int]] =
    Gen.choose(0, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf(0, 1, 2, 3)))

  property("column mapping matches the surface model at every version over random histories") =
    Prop.forAll(genCmapOps) { ops =>
      val sp = spark
      import sp.implicits._
      val dir = Files.createTempDirectory("graft-prop-cmap").toString
      val t = new CommitTable(sp, dir, "k")
      t.overwrite((1L to 10L).map(i => (i, i * 3L)).toDF("k", "c0"))
      // model: ordered logical surface + retired physicals + next ids
      var surface = Vector("k", "c0")
      var renamed = 0
      var added = 0
      var nextKey = 11L
      val perVersion = scala.collection.mutable.Map(0L -> surface)
      var ok = true
      ops.foreach { op =>
        op match {
          case 0 => // rename a non-key column if any
            surface.find(_ != "k") match {
              case Some(c) =>
                renamed += 1
                val nn = s"r$renamed"
                t.renameColumn(c, nn)
                surface = surface.map(x => if (x == c) nn else x)
              case None => ()
            }
          case 1 => // drop a non-key column if any
            surface.find(_ != "k") match {
              case Some(c) =>
                t.dropColumn(c)
                surface = surface.filterNot(_ == c)
              case None => ()
            }
          case 2 => // append a row batch carrying a FRESH column
            added += 1
            val nn = s"a$added"
            val batch = Seq((nextKey, 99L)).toDF("k", nn)
            nextKey += 1
            t.append(batch)
            surface = surface :+ nn
          case 3 => t.compact(1)
        }
        perVersion(t.latestVersion().get) = surface
        ok &&= t.read().columns.toSeq == surface.toSeq
      }
      // historical surfaces hold verbatim
      perVersion.foreach { case (v, expect) =>
        ok &&= t.asOf(v).columns.toSeq == expect.toSeq
      }
      // the physical truth never drifted: the key aggregate is invariant
      val expectKeys = (1L until nextKey).sum
      ok && t.read().agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0) == expectKeys
    }

  // Change-feed coherence over random histories (the CDC correctness
  // law): for ANY committed version pair i <= j, applying the feed to
  // the older snapshot reproduces the newer one as a MULTISET —
  // asOf(i) − deletes(i,j) + inserts(i,j) == asOf(j), with deletes
  // always contained in asOf(i) (a feed may never delete a row the
  // consumer doesn't hold). Histories mix appends, DV range/predicate
  // deletes, DV updates, CoW deletes, compactions, and restores, so the
  // windows cross every resolution shape: equal-stamp file diffs, pure
  // sidecar deltas, mixed delta+file windows, restore-REVERSED stamps
  // (inserts from the sidecar), and stamp-clearing rewrites.
  private val genCdfOps: Gen[List[(Int, Long, Long)]] = for {
    n <- Gen.choose(1, 5)
    ops <- Gen.listOfN(n, for {
      kind <- Gen.oneOf(0, 1, 2, 3, 4, 5, 6)
      lo <- Gen.choose(1L, 35L)
      w <- Gen.choose(0L, 8L)
    } yield (kind, lo, lo + w))
  } yield ops

  property("change feed reconstructs every version pair over random DV/CoW/restore histories") =
    Prop.forAll(genCdfOps, Gen.choose(0, Int.MaxValue)) { (ops, seed) =>
      val sp = spark
      import sp.implicits._
      val dir = Files.createTempDirectory("graft-prop-cdf").toString
      // checkpointEvery = 3: windows cross checkpoint entries too
      val t = new CommitTable(sp, dir, "k", checkpointEvery = 3)
      t.overwrite((1L to 30L).map(i => (i, i * 7L)).toDF("k", "v").repartition(3))
      var nextKey = 100L
      ops.foreach { case (kind, lo, hi) =>
        kind match {
          case 0 =>
            t.append(Seq((nextKey, nextKey * 7L),
              (nextKey + 1L, (nextKey + 1L) * 7L)).toDF("k", "v"))
            nextKey += 2L
          case 1 => t.deleteRangeDV(lo, hi)
          case 2 => t.deleteWhereDV(s"v >= ${lo * 7} AND v <= ${hi * 7}")
          case 3 => t.updateWhereDV(s"k >= $lo AND k <= $hi", "v", "v + 100000")
          case 4 => t.deleteRange(lo, hi)
          case 5 => t.compact(2)
          case 6 =>
            val vs = t.versions()
            t.restore(vs((lo % vs.length).toInt))
        }
      }
      def multiset(rows: Array[(Long, Long)]): Map[(Long, Long), Int] =
        rows.groupBy(identity).view.mapValues(_.length).toMap
      def snap(v: Long): Map[(Long, Long), Int] = multiset(
        t.asOf(v).select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))))
      val vs = t.versions().toVector
      val rnd = new scala.util.Random(seed)
      val pairs = ((0L, vs.last) +: Vector.fill(3) {
        val a = vs(rnd.nextInt(vs.length)); val b = vs(rnd.nextInt(vs.length))
        (a min b, a max b)
      }).distinct
      pairs.forall { case (i, j) =>
        val feed = t.changesBetween(i, j)
          .select("k", "v", "change_type").collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2)))
        val ins = multiset(feed.collect { case (kv, "insert") => kv })
        val del = multiset(feed.collect { case (kv, "delete") => kv })
        val base = snap(i)
        val containment = del.forall { case (kv, n) => base.getOrElse(kv, 0) >= n }
        val applied = (base.keySet ++ ins.keySet).flatMap { kv =>
          val n = base.getOrElse(kv, 0) - del.getOrElse(kv, 0) + ins.getOrElse(kv, 0)
          if (n > 0) Some(kv -> n) else None
        }.toMap
        containment && applied == snap(j)
      }
    }

  // The two log folds agree: over random histories mixing every commit
  // shape (delta appends, whole-table merges, file-granular DML, DV
  // metadata commits, small-file folds and purges) with checkpointEvery
  // = 3, the driver fold and the distributed fold resolve the same active
  // records at every version of the table and of its DV sidecar. The
  // engine only takes the distributed fold above 4 MiB of log per
  // window, which no other test reaches.
  private val genFoldOps: Gen[List[(Int, Long, Long)]] = for {
    n <- Gen.choose(1, 7)
    ops <- Gen.listOfN(n, for {
      // 0 = append, 1 = merge, 2 = deleteRange, 3 = deleteWhereDV,
      // 4 = compactSmall, 5 = purgeDv
      kind <- Gen.oneOf(0, 0, 1, 2, 3, 3, 4, 5)
      lo <- Gen.choose(1L, 30L)
      w <- Gen.choose(0L, 6L)
    } yield (kind, lo, lo + w))
  } yield ops

  property("driver fold == distributed fold at every version over random commit histories") =
    Prop.forAll(genFoldOps) { ops =>
      val sp = spark
      import sp.implicits._
      val dir = Files.createTempDirectory("graft-prop-fold").toString
      val t = new CommitTable(sp, dir, "k", checkpointEvery = 3)
      t.overwrite((1L to 20L).map(i => (i, i * 7L)).toDF("k", "v").repartition(2))
      var nextKey = 100L
      ops.foreach { case (kind, lo, hi) =>
        kind match {
          case 0 =>
            t.append(Seq((nextKey, 1L), (nextKey + 1L, 2L)).toDF("k", "v").coalesce(1))
            nextKey += 2L
          case 1 => t.merge(Seq((lo, -1L), (nextKey, -2L)).toDF("k", "v"), Seq("k")); nextKey += 1L
          case 2 => t.deleteRange(lo, hi)
          case 3 => t.deleteWhereDV(s"k >= $lo AND k <= $hi")
          case 4 => t.compactSmall("k", 1L << 20)
          case 5 => t.purgeDv()
        }
      }
      Seq(s"$dir/_log", s"$dir/_dv/_log").filter(d => new java.io.File(d).isDirectory).forall { logDir =>
        val entries = new java.io.File(logDir).listFiles().map(_.getName)
          .filter(_.matches("\\d{20}\\.json")).sorted.map(n => s"$logDir/$n").toVector
        def text(i: Int) = new String(Files.readAllBytes(java.nio.file.Paths.get(entries(i))),
          java.nio.charset.StandardCharsets.UTF_8)
        entries.indices.forall { v =>
          // the resolution window: back to the nearest snapshot-complete entry
          var base = v
          while (base > 0 && text(base).linesIterator.next().contains("\"delta\": true")) base -= 1
          val window = base to v
          graft.operators.FoldProbe.driver(window.map(text)).toSet ==
            graft.operators.FoldProbe.distributed(sp, window.map(entries)).toSet
        }
      }
    }

  /** Spark jobs `body` starts. */
  private def jobsDuring(body: => Any): Int = {
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

  /** A frame's schema and its rows, rendered and sorted. */
  private def surface(df: org.apache.spark.sql.DataFrame) =
    (df.schema, df.collect().map(_.toString).sorted.toSeq)

  private val dataflow = CommitTable.Budget(bytes = 0L, rows = CommitTable.DriverBudget.rows)

  // MERGE histories outside the source contract on purpose: duplicate
  // keys on both sides, null keys on both sides, and a delete flag that is
  // true, false or null. Keys are BIGINT, INT merged into a BIGINT
  // column, or STRING (whose table keeps its stats on the BIGINT `n`).
  private val genMergeHistory = {
    val row = for {
      k <- Gen.frequency(6 -> Gen.choose(1L, 8L).map(Option(_)), 1 -> Gen.const(None))
      n <- Gen.choose(-3L, 3L)
      v <- Gen.oneOf("a", "b", "c")
      d <- Gen.oneOf(Option(true), Option(false), None)
    } yield (k, n, v, d)
    for {
      kind <- Gen.oneOf("long", "int", "string")
      ansi <- Gen.oneOf(true, false)
      withDelete <- Gen.oneOf(true, false)
      init <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, row))
      ops <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(0, 6).flatMap(Gen.listOfN(_, row))))
    } yield (kind, ansi, withDelete, init, ops)
  }

  property("the driver merge == the dataflow merge at every version over random histories") =
    Prop.forAll(genMergeHistory) { case (kind, ansi, withDelete, init, ops) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val sp = spark
      val keyType = kind match { case "long" => LongType; case "int" => IntegerType; case _ => StringType }
      def key(k: Option[Long]): Any = k.map(x => kind match {
        case "long" => x; case "int" => x.toInt; case _ => s"k$x" }).orNull
      def frame(rows: Seq[(Option[Long], Long, String, Option[Boolean])], source: Boolean) = {
        val del = source && withDelete
        val fields = Seq(StructField("k", if (source) keyType else if (kind == "string") StringType else LongType),
          StructField("n", LongType), StructField("v", StringType)) ++
          (if (del) Seq(StructField("del", BooleanType)) else Nil)
        val data = rows.map { case (k, n, v, d) =>
          val tk = if (source) key(k) else key(k) match { case i: Int => i.toLong; case o => o }
          Row.fromSeq(Seq(tk, n, v) ++ (if (del) Seq(d.orNull) else Nil))
        }
        sp.createDataFrame(java.util.Arrays.asList(data: _*), StructType(fields))
      }
      val statsCol = if (kind == "string") "n" else "k"
      val deleteCol = if (withDelete) Some("del") else None
      val before = sp.conf.get("spark.sql.ansi.enabled")
      sp.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try {
        val onDriver = new CommitTable(sp, Files.createTempDirectory("graft-prop-dmerge").toString, statsCol)
        val onSpark = new CommitTable(sp, Files.createTempDirectory("graft-prop-smerge").toString, statsCol)
        Seq(onDriver, onSpark).foreach(_.overwrite(frame(init, source = false)))
        val driverJobs = ops.map { rows =>
          onSpark.mergeWithin(frame(rows, source = true), Seq("k"), deleteCol, dataflow)
          jobsDuring(onDriver.merge(frame(rows, source = true), Seq("k"), deleteCol))
        }
        driverJobs.forall(_ == 0) && onDriver.versions() == onSpark.versions() &&
          onDriver.versions().forall(v => surface(onDriver.asOf(v)) == surface(onSpark.asOf(v)))
      } finally sp.conf.set("spark.sql.ansi.enabled", before)
    }

  // The driver write of a LocalRelation (bare or coalesced to one
  // partition, under a per-file record cap or none) makes the files
  // Spark's write of the same frame makes: the same rows in each file, the
  // same footer, and the same per-file stats in the log.
  private val genWrite = for {
    n <- Gen.choose(0, 30)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(-50L, 50L)
      i <- Gen.option(Gen.choose(-5, 5))
      s <- Gen.option(Gen.oneOf("x", "yy", ""))
      d <- Gen.oneOf(0.0, -0.0, 1.5, Double.NaN)
      arr <- Gen.listOfN(2, Gen.choose(0L, 3L))
    } yield (k, i, s, d, arr))
    coalesced <- Gen.oneOf(true, false)
    perFile <- Gen.oneOf(0, 0, 3, 7)
  } yield (rows, coalesced, perFile)

  property("the driver write of a LocalRelation == Spark's write of it, file by file") =
    Prop.forAll(genWrite) { case (rows, coalesced, perFile) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val sp = spark
      val schema = StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("i", IntegerType), StructField("s", StringType), StructField("d", DoubleType),
        StructField("arr", ArrayType(LongType, containsNull = false), nullable = false)))
      val data = rows.map { case (k, i, s, d, arr) => Row(k, i.map(Int.box).orNull, s.orNull, d, arr) }
      val df0 = sp.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      val df = if (coalesced) df0.coalesce(1) else df0
      val before = sp.conf.get("spark.sql.files.maxRecordsPerFile")
      sp.conf.set("spark.sql.files.maxRecordsPerFile", perFile.toString)
      try {
        def table() = new CommitTable(sp, Files.createTempDirectory("graft-prop-write").toString, "k",
          extraStatsCols = Seq("i"))
        val (onDriver, onSpark) = (table(), table())
        val driverJobs = jobsDuring(onDriver.overwrite(df))
        onSpark.overwriteWithin(df, dataflow)
        val conf = sp.sparkContext.hadoopConfiguration
        // per file, in part order: (part and counter, lo, hi, n, xs, rows, footer)
        def files(t: CommitTable) = t.fileStats().collect().toSeq.map { r =>
          val f = r.getString(0)
          val name = f.substring(f.lastIndexOf('/') + 1)
          val md = org.apache.parquet.hadoop.ParquetFileReader
            .readFooter(conf, new org.apache.hadoop.fs.Path(f)).getFileMetaData
          (name.take(10) + name.substring(name.lastIndexOf("-c")),
            (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.getString(4))),
            sp.read.parquet(f).collect().map(_.toString).toSeq,
            (md.getSchema.toString, md.getKeyValueMetaData))
        }.sortBy(_._1)
        driverJobs == 0 && files(onDriver) == files(onSpark) &&
          surface(onDriver.read()) == surface(onSpark.read())
      } finally sp.conf.set("spark.sql.files.maxRecordsPerFile", before)
    }

  // The footer-planned scan reads what the merged-schema read does, at
  // every version: the same rows and the same schema, nullability of
  // nested fields included, whether the footers agree (the planned scan)
  // or an appended batch evolved the schema (the merged read).
  private val genShapes = Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.frequency(
    4 -> Gen.const("base"), 1 -> Gen.const("wider"))))

  property("the footer-planned scan == the mergeSchema read at every version") =
    Prop.forAll(genShapes) { shapes =>
      import org.apache.spark.sql.functions._
      val sp = spark
      val t = new CommitTable(sp, Files.createTempDirectory("graft-prop-scan").toString, "k")
      shapes.zipWithIndex.foreach { case (shape, i) =>
        val base = sp.range(i * 10L, i * 10L + 10L, 1L, 2).select(col("id").as("k"),
          when(col("id") % 3 === 0, lit(null)).otherwise(col("id").cast("string")).as("v"),
          array(col("id"), col("id") * 2).as("arr"),
          struct(col("id").as("a"), lit("s").as("b")).as("st"))
        val batch = if (shape == "wider") base.withColumn("w", col("k") * 0.5) else base
        if (i == 0) t.overwrite(batch) else t.append(batch)
      }
      t.versions().forall { v =>
        val files = t.fileStats(Some(v)).collect().map(_.getString(0)).toSeq
        surface(t.asOf(v)) == surface(sp.read.option("mergeSchema", "true").parquet(files: _*))
      }
    }
}

package operators {
  /** Test access to the commit log's two file-list folds. */
  private[graft] object FoldProbe {
    def driver(entries: Seq[String]): Seq[CommitTable.Rec] = CommitTable.driverFold(entries)
    def distributed(spark: org.apache.spark.sql.SparkSession,
                    logFiles: Seq[String]): Seq[CommitTable.Rec] =
      CommitTable.distributedFold(spark, logFiles)
  }
}
