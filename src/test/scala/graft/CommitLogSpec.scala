package graft

import java.nio.file.Files
import graft.operators.{CommitTable, Validation}

class CommitLogSpec extends SparkSpec {

  private def freshTable(): CommitTable =
    new CommitTable(spark, Files.createTempDirectory("graft-clog").toString, "k")

  private def kv(pairs: (Long, String)*) = {
    val s = spark
    import s.implicits._
    pairs.toDF("k", "v")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("delta log entries: appends write O(batch) log bytes, checkpoints + rewrites are snapshot-complete, every version resolves (r14 verdict #3)") {
    val dir = Files.createTempDirectory("graft-clog-ckpt").toString
    val t = new CommitTable(spark, dir, "k", checkpointEvery = 4)
    def logText(v: Long) =
      new String(Files.readAllBytes(java.nio.file.Paths.get(
        dir, "_log", f"$v%020d.json")), java.nio.charset.StandardCharsets.UTF_8)
    def logLines(v: Long) = logText(v).split("\n").length
    t.overwrite(kv(1L -> "a", 2L -> "b").coalesce(1))            // v0 snapshot (1 file)
    t.append(kv(10L -> "j").coalesce(1))                         // v1 delta
    t.append(kv(20L -> "x").coalesce(1))                         // v2 delta
    t.append(kv(30L -> "y").coalesce(1))                         // v3 delta
    t.append(kv(40L -> "z").coalesce(1))                         // v4 CHECKPOINT
    t.append(kv(50L -> "w").coalesce(1))                         // v5 delta
    // delta appends list ONLY the new file: header + 1 add line — the
    // O(changed files) log-cost contract; the snapshot-complete-only form
    // would list every active file in every entry (O(versions x files))
    assert(logLines(1L) === 2 && logLines(2L) === 2 && logLines(5L) === 2,
      s"append entries must be delta-sized, got ${logLines(1L)}/${logLines(2L)}/${logLines(5L)} lines")
    assert(logText(1L).contains("\"delta\": true"))
    // the checkpoint re-lists all 5 active files (header + 5 adds), so a
    // reader at v4+ never walks past it
    assert(!logText(4L).contains("\"delta\": true"))
    assert(logLines(4L) === 6, s"checkpoint must be snapshot-complete, got ${logLines(4L)} lines")
    // every version resolves exactly, through and across the boundary
    assert(rows(t.asOf(0L)) === Set(1L -> "a", 2L -> "b"))
    assert(rows(t.asOf(3L)) === Set(1L -> "a", 2L -> "b", 10L -> "j", 20L -> "x", 30L -> "y"))
    assert(rows(t.asOf(5L)).size === 7)
    // file-granular DML as a delta: adds the rewritten file, REMOVES the
    // touched one; untouched files never re-listed
    val v6 = t.deleteRange(10L, 10L)
    assert(v6 === 6L)
    assert(logText(6L).contains("\"delta\": true") && logText(6L).contains("\"remove\""))
    assert(rows(t.read()) === Set(1L -> "a", 2L -> "b", 20L -> "x", 30L -> "y",
      40L -> "z", 50L -> "w"))
    assert(rows(t.asOf(5L)).size === 7, "pre-delete version intact through the delta chain")
    // a whole-table rewrite resets the chain (snapshot-complete by nature)
    t.overwrite(kv(7L -> "s").coalesce(1))                       // v7 snapshot
    assert(!logText(7L).contains("\"delta\": true"))
    assert(rows(t.read()) === Set(7L -> "s"))
    // restore re-lists state: also snapshot-complete, old versions readable
    t.restore(3L)                                                 // v8 (ckpt anyway)
    assert(rows(t.read()) === rows(t.asOf(3L)))
    // history reports ACTIVE totals per version (not delta add-sums)
    val hist = t.history().collect().map(r => (r.getLong(0), r.getLong(4))).toMap
    assert(hist(1L) === 3L && hist(5L) === 7L && hist(6L) === 6L && hist(8L) === 5L,
      s"history n_rows must be active totals, got $hist")
    // CDF across the checkpoint boundary
    val cdf = t.changesBetween(3L, 5L).collect()
      .map(r => (r.getString(2), r.getLong(0))).toSet
    assert(cdf === Set(("insert", 40L), ("insert", 50L)))
    // vacuum still reference-counts correctly over resolved lists
    assert(t.vacuum(keepLast = 2) > 0L)
    assert(rows(t.read()) === rows(t.asOf(3L)))
  }

  test("concurrent appends auto-rebase: both racers land as consecutive versions with union content (r14 verdict #6)") {
    val dir = Files.createTempDirectory("graft-clog-rebase").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a"))
    val interloper = new CommitTable(spark, dir, "k")
    var calls = 0
    val racing = new CommitTable(spark, dir, "k") {
      override protected def nextVersion(): Long = {
        calls += 1
        val v = super.nextVersion()
        // first attempt: another writer lands AFTER this resolution — the
        // atomic rename loses; the rebase retry re-resolves and wins
        if (calls == 1) interloper.append(kv(2L -> "i"))
        v
      }
    }
    val got = racing.append(kv(3L -> "r"))
    assert(calls === 2, "the first attempt must lose the rename race and rebase")
    assert(got === 2L, "the rebased append lands at the next version")
    val fresh = new CommitTable(spark, dir, "k")
    assert(fresh.versions() === Seq(0L, 1L, 2L))
    assert(rows(fresh.read()) === Set(1L -> "a", 2L -> "i", 3L -> "r"),
      "BOTH racing appends must land (commutative conflict resolution)")
    // read-modify-write stays single-winner: the merge conflict test below
    // pins that contract unchanged
  }

  test("multi-column file stats: prunedReadOn cuts files on a second column; no-stats files always survive (r14 verdict #4)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-clog-xs").toString
    val t = new CommitTable(spark, dir, "k", extraStatsCols = Seq("v2"))
    def f(ps: (Long, Long)*) = ps.toDF("k", "v2")
    // two files whose k-windows fully OVERLAP but whose v2-windows are
    // disjoint — only the second column's stats can cut here
    t.overwrite(f(1L -> 100L, 50L -> 120L, 99L -> 110L).coalesce(1))
    t.append(f(2L -> 900L, 51L -> 950L, 98L -> 920L).coalesce(1))
    val lowRead = t.prunedReadOn("v2", 100L, 200L)
    assert(lowRead.inputFiles.length === 1,
      "the high-v2 file must be cut by its committed v2 stats")
    assert(lowRead.select("k").collect().map(_.getLong(0)).toSet === Set(1L, 50L, 99L))
    // the primary column delegates to prunedRead (both files overlap on k)
    assert(t.prunedReadOn("k", 1L, 99L).inputFiles.length === 2)
    // a file whose v2 slice is all NULL records no v2 stats and always
    // survives the cut — pruning only ever strengthens
    t.append(Seq((60L, Option.empty[Long]), (61L, Option.empty[Long]))
      .toDF("k", "v2").coalesce(1))
    assert(t.prunedReadOn("v2", 100L, 200L).inputFiles.length === 2,
      "a no-stats file must survive")
    assert(t.prunedReadOn("v2", 100L, 200L).select("k").collect()
      .map(_.getLong(0)).toSet === Set(1L, 50L, 99L),
      "...and the residual predicate still filters its rows")
    // stats survive a carry: delete an unrelated k-range, then prune again
    t.deleteRange(98L, 99L)
    val after = t.prunedReadOn("v2", 900L, 1000L)
    assert(after.select("k").collect().map(_.getLong(0)).toSet === Set(2L, 51L),
      "carried and rewritten files keep their extra-column stats")
    // the SQL surface: register WITH the extra column, then the by-name
    // range-on TVF plans the same file cut
    spark.sql(s"SELECT * FROM log_register('spec_xs', '$dir', 'k', 'v2')").collect()
    val viaSql = spark.sql("SELECT k FROM log_table_range_on('spec_xs', 'v2', 900, 1000)")
    assert(viaSql.collect().map(_.getLong(0)).toSet === Set(2L, 51L))
    assert(viaSql.inputFiles.toSet === after.inputFiles.toSet,
      "the TVF must hand the planner the same extra-column file cut")
  }

  test("named catalog: log TVFs resolve registered names; unknown names fail loudly with the known-name list (r14 verdict #5)") {
    val dir = Files.createTempDirectory("graft-clog-named").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a", 2L -> "b"))
    t.append(kv(10L -> "j"))
    spark.sql(s"SELECT * FROM log_register('spec_named', '$dir', 'k')").collect()
    // read, time travel, range and history — all by name, no path literals
    assert(spark.sql("SELECT COUNT(*) FROM log_table('spec_named')")
      .head.getLong(0) === 3L)
    assert(spark.sql("SELECT COUNT(*) FROM log_table_at('spec_named', 0)")
      .head.getLong(0) === 2L)
    assert(spark.sql("SELECT k FROM log_table_range('spec_named', 10, 99)")
      .collect().map(_.getLong(0)).toSeq === Seq(10L))
    assert(spark.sql("SELECT COUNT(*) FROM log_history('spec_named')")
      .head.getLong(0) === 2L)
    // the CDF surface by name: v0 -> v1 inserted exactly the appended row
    val cdf = spark.sql("SELECT k, change_type FROM log_changes('spec_named', 0, 1)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cdf === Set((10L, "insert")))
    // raw (path, stats_col) form keeps working unchanged
    assert(spark.sql(s"SELECT COUNT(*) FROM log_table('$dir', 'k')")
      .head.getLong(0) === 3L)
    // unknown names fail at analysis with the registered-name list — not
    // a filesystem error from a typo'd "path"
    val e = intercept[Throwable](
      spark.sql("SELECT * FROM log_table('spec_no_such')").collect())
    def messages(x: Throwable): String =
      if (x == null) "" else x.toString + messages(x.getCause)
    assert(messages(e).contains("unknown registered table 'spec_no_such'"),
      s"expected the unknown-name error, got: ${messages(e)}")
    assert(messages(e).contains("spec_named"),
      "the error must list the known names")
  }

  test("append/overwrite version the table; asOf resolves any committed version") {
    val t = freshTable()
    assert(t.versions().isEmpty && t.latestVersion().isEmpty)
    assert(t.overwrite(kv(1L -> "a", 2L -> "b")) === 0L)
    assert(t.append(kv(3L -> "c")) === 1L)
    assert(t.overwrite(kv(9L -> "z")) === 2L)
    assert(t.versions() === Seq(0L, 1L, 2L))
    assert(rows(t.asOf(0L)) === Set(1L -> "a", 2L -> "b"))
    assert(rows(t.asOf(1L)) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(rows(t.asOf(2L)) === Set(9L -> "z"))
    assert(rows(t.read()) === Set(9L -> "z"))
    intercept[IllegalArgumentException](t.asOf(7L))
  }

  test("deleteRange: file-granular CoW — untouched files carry by reference, history intact") {
    val t = freshTable()
    // three appends -> three disjoint key-range file sets
    t.overwrite(kv(1L -> "a", 2L -> "b"))          // [1, 2]
    t.append(kv(10L -> "j", 11L -> "k"))           // [10, 11]
    t.append(kv(20L -> "x", 21L -> "y"))           // [20, 21]
    val before = t.read().inputFiles.toSet
    val v = t.deleteRange(10L, 10L)
    assert(v === 3L)
    assert(rows(t.read()) === Set(1L -> "a", 2L -> "b", 11L -> "k", 20L -> "x", 21L -> "y"))
    val after = t.read().inputFiles.toSet
    // untouched files ([1,2] and [20,21]) are THE SAME physical files,
    // carried by log reference — never rewritten
    val carried = before.intersect(after)
    assert(carried.nonEmpty, "untouched files must carry forward by reference")
    // the touched file ([10,11]) was rewritten (or dropped): its old path
    // is gone from the head
    assert(before.diff(after).nonEmpty, "the intersecting file must be rewritten")
    // pre-delete history is intact
    assert(rows(t.asOf(2L)).size === 6)
    // a provably-no-op delete commits nothing
    assert(t.deleteRange(100L, 200L) === v)
    assert(t.versions().last === v)
  }

  test("log TVFs: SQL head/asOf/range reads equal the Scala API; range prunes files from the log") {
    val t = freshTable()
    t.overwrite(kv(1L -> "a", 2L -> "b"))
    t.append(kv(10L -> "j", 20L -> "x"))
    val tp = t.path
    def sql1(q: String) = spark.sql(q).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sql1(s"SELECT k, v FROM log_table('$tp', 'k')") === rows(t.read()))
    assert(sql1(s"SELECT k, v FROM log_table_at('$tp', 'k', 0)") === rows(t.asOf(0L)))
    assert(sql1(s"SELECT k, v FROM log_table_range('$tp', 'k', 10, 15)") === Set(10L -> "j"))
    // the range TVF plans from the log's per-file stats: the v0 file
    // ([1, 2]) must not even be listed as an input
    val planned = spark.sql(s"SELECT k, v FROM log_table_range('$tp', 'k', 10, 15)")
    assert(planned.inputFiles.nonEmpty &&
      planned.inputFiles.toSet === t.prunedRead(10L, 15L).inputFiles.toSet)
    assert(planned.inputFiles.length < t.read().inputFiles.length,
      "log-stats pruning must exclude the non-intersecting file")
    // outer predicates compose over the TVF plan
    assert(spark.sql(s"SELECT COUNT(*) FROM log_table('$tp', 'k') WHERE k >= 10")
      .head().getLong(0) === 2L)
    // a raw path with no stats_col is missing its second argument (a
    // registered NAME is the only 1-arg form)
    val e1 = intercept[Exception](spark.sql(s"SELECT * FROM log_table('$tp')").collect())
    assert(e1.getMessage.contains("missing argument 2"))
  }

  test("SQL write TVFs: log_merge and log_delete equal the Scala API on the same change set") {
    val s = spark
    import s.implicits._
    // twin tables, identical base commit
    val base = Seq(1L -> "a", 2L -> "b", 10L -> "j", 20L -> "x")
    val (tScala, tSql) = (freshTable(), freshTable())
    tScala.overwrite(kv(base: _*))
    tSql.overwrite(kv(base: _*))
    val src = Seq((2L, "B2"), (30L, "new")).toDF("k", "v")

    // Scala path
    tScala.merge(src, Seq("k"))
    tScala.deleteRange(10L, 20L)

    // SQL path: same change set as statements
    src.createOrReplaceTempView("clog_sql_src")
    spark.sql(s"SELECT COUNT(*) FROM log_merge('${tSql.path}', 'k', 'clog_sql_src', 'k')").collect()
    val afterDelete = spark.sql(s"SELECT k, v FROM log_delete('${tSql.path}', 'k', 10, 20)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val expect = Set(1L -> "a", 2L -> "B2", 30L -> "new")
    assert(rows(tScala.read()) === expect)
    assert(afterDelete === expect, "log_delete must return the post-delete head")
    assert(rows(tSql.read()) === rows(tScala.read()),
      "SQL statements must produce the same table as the Scala API")
    // both histories versioned identically: base, merge, delete
    assert(tSql.versions() === tScala.versions())
    assert(rows(tSql.asOf(1L)) === rows(tScala.asOf(1L)), "post-merge snapshots must match")
    // a no-op SQL delete commits nothing
    val vBefore = tSql.latestVersion().get
    spark.sql(s"SELECT COUNT(*) FROM log_delete('${tSql.path}', 'k', 500, 600)").collect()
    assert(tSql.latestVersion().get === vBefore)
  }

  test("compaction is a commit: content identical, fewer files, old versions still readable") {
    val t = freshTable()
    t.overwrite(kv((1L to 20L).map(i => i -> s"r$i"): _*).repartition(8))
    t.append(kv((21L to 30L).map(i => i -> s"r$i"): _*).repartition(8))
    val before = t.read().inputFiles.length
    val v = t.compact(targetFiles = 2)
    assert(v === 2L)
    assert(t.read().inputFiles.length === 2)
    assert(t.read().inputFiles.length < before)
    assert(rows(t.read()) === (1L to 30L).map(i => i -> s"r$i").toSet)
    // time travel across the rewrite: version 0's original files still resolve
    assert(rows(t.asOf(0L)) === (1L to 20L).map(i => i -> s"r$i").toSet)
  }

  test("compactClustered: small files fold into few RANGE-clustered ones; stats pruning survives") {
    val t = freshTable()
    // a streamed index's shape: many per-batch commits, interleaved ranges
    t.overwrite(kv((1L to 20L).map(i => i -> s"r$i"): _*).repartition(6))
    t.append(kv((21L to 40L).map(i => i -> s"r$i"): _*).repartition(6))
    t.append(kv((41L to 60L).map(i => i -> s"r$i"): _*).repartition(6))
    val before = t.read().inputFiles.length
    val v = t.compactClustered("k", targetFiles = 3)
    assert(v === 3L)
    val after = t.read().inputFiles.length
    assert(after <= 3 && after < before, s"expected <= 3 files after OPTIMIZE, saw $after (was $before)")
    // content byte-identical, history intact
    assert(rows(t.read()) === (1L to 60L).map(i => i -> s"r$i").toSet)
    assert(rows(t.asOf(1L)) === (1L to 40L).map(i => i -> s"r$i").toSet)
    // THE point of the clustered rewrite: each output file covers a narrow
    // key window, so log-stats pruning still bites after compaction (a
    // round-robin compact would scatter [1, 60] across every file)
    val pruned = t.prunedRead(5L, 10L)
    assert(pruned.inputFiles.length < after,
      s"clustered layout must let stats prune: ${pruned.inputFiles.length} of $after files")
    assert(rows(pruned) === (5L to 10L).map(i => i -> s"r$i").toSet)
    // the SQL OPTIMIZE statement commits the identical maintenance step
    val t2 = freshTable()
    t2.overwrite(kv((1L to 20L).map(i => i -> s"r$i"): _*).repartition(6))
    t2.append(kv((21L to 40L).map(i => i -> s"r$i"): _*).repartition(6))
    t2.append(kv((41L to 60L).map(i => i -> s"r$i"): _*).repartition(6))
    val viaSql = spark.sql(s"SELECT k, v FROM log_optimize('${t2.path}', 'k', 'k', 3)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaSql === (1L to 60L).map(i => i -> s"r$i").toSet,
      "log_optimize must return the compacted head's content")
    assert(t2.read().inputFiles.length <= 3 && t2.versions() === t.versions())
    assert(t2.prunedRead(5L, 10L).inputFiles.length < t2.read().inputFiles.length,
      "stats pruning must survive the SQL OPTIMIZE")
  }

  test("deleteRange keeps NULL-key rows: row fate never depends on file placement") {
    val s = spark
    import s.implicits._
    val t = freshTable()
    // one file holds a NULL key INSIDE the delete-touched range file; a
    // second (untouched) file holds another NULL row — Delta semantics: a
    // range predicate matches no NULL, so BOTH must survive the delete
    t.overwrite(Seq((Some(10L), "a"), (Some(11L), "b"), (None, "n1"))
      .toDF("k", "v").coalesce(1))
    t.append(Seq((Some(100L), "x"), (None, "n2")).toDF("k", "v").coalesce(1))
    t.deleteRange(10L, 10L)
    val got = t.read().collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1))).toSet
    assert(got === Set((Some(11L), "b"), (None, "n1"), (Some(100L), "x"), (None, "n2")),
      s"NULL rows must survive a range delete wherever they live, got $got")
  }

  test("updateRange: file-granular CoW UPDATE — carried files untouched, NULL keys unchanged, SQL == Scala") {
    val s = spark
    import s.implicits._
    val t = freshTable()
    // three commits -> three disjoint key-range file sets; the middle file
    // also holds a NULL-key row (a range predicate matches no NULL, so it
    // must rewrite UNCHANGED even though its file is touched)
    t.overwrite(Seq((Some(1L), "a"), (Some(2L), "b")).toDF("k", "v").coalesce(1))
    t.append(Seq((Some(10L), "j"), (Some(11L), "k"), (Option.empty[Long], "n1")).toDF("k", "v").coalesce(1))
    t.append(Seq((Some(20L), "x")).toDF("k", "v").coalesce(1))
    val before = t.read().inputFiles.toSet
    val v = t.updateRange(10L, 11L, "v", "upper(v)")
    assert(v === 3L)
    val got = t.read().collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1))).toSet
    assert(got === Set((Some(1L), "a"), (Some(2L), "b"), (Some(10L), "J"),
      (Some(11L), "K"), (None, "n1"), (Some(20L), "x")),
      s"only in-range rows update; NULL-key and out-of-range rows survive unchanged, got $got")
    val after = t.read().inputFiles.toSet
    assert(before.intersect(after).nonEmpty, "non-intersecting files must carry by reference")
    assert(before.diff(after).nonEmpty, "the intersecting file must be rewritten")
    // pre-update history intact; a provably-no-op update commits nothing
    assert(t.asOf(2L).filter("k = 10").head().getString(1) === "j")
    assert(t.updateRange(500L, 600L, "v", "upper(v)") === v)
    // unknown set column fails loudly without committing
    intercept[IllegalArgumentException](t.updateRange(10L, 11L, "nope", "1"))
    assert(t.latestVersion().get === v)
    // the SQL statement path commits the identical change set
    val t2 = freshTable()
    t2.overwrite(Seq((Some(1L), "a"), (Some(2L), "b")).toDF("k", "v").coalesce(1))
    t2.append(Seq((Some(10L), "j"), (Some(11L), "k"), (Option.empty[Long], "n1")).toDF("k", "v").coalesce(1))
    t2.append(Seq((Some(20L), "x")).toDF("k", "v").coalesce(1))
    val viaSql = spark.sql(
        s"SELECT k, v FROM log_update('${t2.path}', 'k', 10, 11, 'v', 'upper(v)')")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1))).toSet
    assert(viaSql === got, "log_update must return the post-update head")
    assert(t2.versions() === t.versions())
  }

  test("prunedRead plans from log stats: non-overlapping files never listed") {
    val t = freshTable()
    // three appends with disjoint key ranges -> disjoint per-file stats
    t.overwrite(kv((1L to 10L).map(i => i -> "lo"): _*).coalesce(1))
    t.append(kv((100L to 110L).map(i => i -> "mid"): _*).coalesce(1))
    t.append(kv((1000L to 1010L).map(i => i -> "hi"): _*).coalesce(1))
    val all = t.read().inputFiles.length
    val pruned = t.prunedRead(100L, 120L)
    assert(pruned.inputFiles.length < all,
      s"pruning did not bite: ${pruned.inputFiles.length} of $all files")
    assert(rows(pruned) === (100L to 110L).map(i => i -> "mid").toSet)
    // empty intersection -> no files, schema preserved
    assert(t.prunedRead(5000L, 6000L).collect().isEmpty)
  }

  test("history: one row per version with op/rowcount, monotone ts, SQL TVF equal") {
    val t = freshTable()
    t.overwrite(kv(1L -> "a", 2L -> "b"))
    t.append(kv(10L -> "j"))
    t.deleteRange(10L, 10L)
    val h = t.history().collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(h.map(x => (x._1, x._2, x._4)).toSeq ===
      Seq((0L, "overwrite", 2L), (1L, "append", 3L), (2L, "delete", 2L)))
    assert(h.forall(_._3 >= 1L), "every version lists at least one active file")
    // commit timestamps are monotone non-decreasing in version order
    val ts = t.history().collect().map(_.getLong(1))
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b },
      s"history ts must be monotone, got ${ts.toSeq}")
    // the SQL TVF returns the same frame
    val viaSql = spark.sql(s"SELECT version, op, n_files, n_rows FROM log_history('${t.path}', 'k')")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(viaSql.toSeq === h.map(x => (x._1, x._2, x._3, x._4)).toSeq)
  }

  test("buildBloom: point reads skip stats-covered files the bloom proves empty; no-bloom files survive") {
    val t = freshTable()
    // two files with fully OVERLAPPING key windows ([1,99] vs [2,100]) but
    // disjoint point sets — min/max stats can never prune a point lookup
    // here; only the bloom can
    val odds = (1L to 99L by 2).map(i => i -> s"o$i")
    val evens = (2L to 100L by 2).map(i => i -> s"e$i")
    t.overwrite(kv(odds: _*).coalesce(1))
    t.append(kv(evens: _*).coalesce(1))
    // without blooms: the stats cut keeps both files for any in-range point
    assert(t.prunedReadIn(Seq(2L)).inputFiles.length === 2)
    assert(t.buildBloom() === 2L, "both head files lack blooms")
    val evenRead = t.prunedReadIn(Seq(2L))
    assert(evenRead.inputFiles.length === 1,
      "the bloom must prove the odd file cannot contain key 2")
    assert(rows(evenRead.filter("k = 2")) === Set(2L -> "e2"))
    val oddRead = t.prunedReadIn(Seq(3L))
    assert(oddRead.inputFiles.length === 1)
    assert(rows(oddRead.filter("k = 3")) === Set(3L -> "o3"))
    // multi-point probes keep every file ANY point may hit
    assert(t.prunedReadIn(Seq(2L, 3L)).inputFiles.length === 2)
    // a proven-absent point yields the empty frame, schema intact
    assert(t.prunedReadIn(Seq(101L)).isEmpty)
    // blooms are per-file facts: a post-bloom append's file has none and
    // always survives; rebuilding indexes only the new file
    t.append(kv(150L -> "late").coalesce(1))
    assert(rows(t.prunedReadIn(Seq(150L)).filter("k = 150")) === Set(150L -> "late"))
    assert(t.buildBloom() === 1L, "only the new file needs indexing")
    assert(t.buildBloom() === 0L, "idempotent once every file carries a bloom")
    // NULL keys register nothing and can never be proven present — but the
    // file carrying them still serves ITS real keys
    val s = spark
    import s.implicits._
    t.append(Seq((Some(200L), "x"), (Option.empty[Long], "n")).toDF("k", "v").coalesce(1))
    t.buildBloom()
    assert(rows(t.prunedReadIn(Seq(200L)).filter("k = 200")) === Set(200L -> "x"))
  }

  test("localReadIn: prunedReadIn's rows and schema on the driver; declines past its byte budget, on deletion vectors, column maps and mixed schemas; driverRows reads either way") {
    val s = spark
    import s.implicits._
    val t = freshTable()
    t.overwrite(kv((1L to 9L).map(i => i -> s"a$i"): _*).coalesce(1))
    t.append(kv((10L to 19L).map(i => i -> s"b$i"): _*).coalesce(1))
    t.append(kv((20L to 29L).map(i => i -> s"c$i"): _*).coalesce(1))
    val pts = Seq(3L, 25L)
    val viaSpark = t.prunedReadIn(pts)
    val local = t.localReadIn(pts).get
    assert(local.rows.map(r => (r.getLong(0), r.getUTF8String(1).toString)).toSet === rows(viaSpark))
    assert(local.schema === viaSpark.schema, "driver rows carry the Spark read's schema")
    val none = t.localReadIn(Seq(100L)).get
    assert(none.rows.isEmpty && none.schema === viaSpark.schema,
      "no file holds the point: no rows, the table's schema")
    // driverRows: exactly the rows on the points (or every row), on the
    // driver within the budget and through Spark past it, same rows and schema
    def all(b: CommitTable.Budget, at: Option[Long] = None) = t.driverRows(None, at, "all", b)
    def onPts(b: CommitTable.Budget) = t.driverRows(Some(pts), None, "points", b)
    val sparkOnly = CommitTable.Budget(bytes = 0L, rows = CommitTable.DriverBudget.rows)
    Seq(CommitTable.DriverBudget, sparkOnly).foreach { b =>
      assert(all(b).rows.length === 29)
      assert(all(b, Some(0L)).rows.length === 9, "a pinned version reads that version's files")
      assert(onPts(b).rows.map(_.getLong(0)).sorted === pts)
      assert(onPts(b).schema === viaSpark.schema && all(b).schema === viaSpark.schema)
    }
    // the byte budget counts only the cut files: one file fits where three do not
    def bytes(f: String) = new java.io.File(new java.net.URI(f)).length
    val tight = CommitTable.Budget(bytes = t.read().inputFiles.map(bytes).max, rows = 10L)
    assert(t.localReadIn(Seq(3L), budget = tight).isDefined)
    assert(t.localReadIn(Seq(3L, 15L, 25L), budget = tight).isEmpty)
    // past the row bound driverRows fails naming it; the Spark path keeps
    // one row past the bound, never the whole read
    Seq(CommitTable.DriverBudget.copy(rows = 5L) -> 29, sparkOnly.copy(rows = 5L) -> 6).foreach {
      case (b, seen) =>
        val e = intercept[CommitTable.DriverBudgetExceeded](all(b))
        assert(e.getMessage === s"all: a batch of $seen rows exceeds the driver row bound DriverBudget.rows = 5")
    }
    // a pruned-out file is never opened: deleting it leaves the cut readable
    val kept = t.prunedReadIn(Seq(15L)).inputFiles.toSet
    t.read().inputFiles.filterNot(kept).foreach(f => new java.io.File(new java.net.URI(f)).delete())
    assert(t.localReadIn(Seq(15L)).get.rows.map(_.getLong(0)).toSet === (10L to 19L).toSet)
    // metadata planes the driver reader does not apply: the Spark path reads
    val dv = freshTable()
    dv.overwrite(kv(1L -> "a", 2L -> "b").coalesce(1))
    assert(dv.localReadIn(Seq(1L)).isDefined)
    dv.deleteRangeDV(2L, 2L)
    assert(dv.localReadIn(Seq(1L)).isEmpty && dv.localReadIn(Seq(1L), Some(0L)).isDefined)
    assert(dv.driverRows(Some(Seq(1L, 2L)), None, "dv", CommitTable.DriverBudget)
      .rows.map(_.getLong(0)) === Seq(1L), "the deletion vector applies")
    val cm = freshTable()
    cm.overwrite(kv(1L -> "a").coalesce(1))
    cm.renameColumn("v", "w")
    assert(cm.localReadIn(Seq(1L)).isEmpty)
    assert(cm.driverRows(Some(Seq(1L)), None, "cm", CommitTable.DriverBudget).schema.fieldNames
      .toSeq === Seq("k", "w"), "the column map applies")
    // nullability alone does not split the schema: every column reads nullable
    val mixed = freshTable()
    mixed.overwrite(kv(1L -> "a").coalesce(1))
    mixed.append(Seq((Option(2L), "b")).toDF("k", "v").coalesce(1))
    assert(mixed.localReadIn(Seq(1L, 2L)).get.rows.map(_.getLong(0)).toSet === Set(1L, 2L))
    // an emptied head: no rows, the schema of the Spark read's empty frame
    val emptied = freshTable()
    emptied.overwrite(kv(1L -> "a").coalesce(1))
    emptied.overwrite(kv(1L -> "a").limit(0))
    Seq(CommitTable.DriverBudget, sparkOnly).foreach { b =>
      val d = emptied.driverRows(None, None, "emptied", b)
      assert(d.rows.isEmpty && d.schema === emptied.read().schema)
    }
    // footers that disagree on the schema: the merged-schema Spark read
    val wide = freshTable()
    wide.overwrite(kv(1L -> "a").coalesce(1))
    wide.append(Seq((2L, "b", 7)).toDF("k", "v", "x").coalesce(1))
    assert(wide.localReadIn(Seq(1L, 2L)).isEmpty && wide.localReadIn(Seq(1L)).isDefined)
    assert(wide.driverRows(None, None, "wide", CommitTable.DriverBudget).schema.fieldNames
      .toSeq === Seq("k", "v", "x"))
  }

  test("buildBloom: sentinel rows make all-NULL-key files idempotent; filters size from rowcount; beyond-capacity files are marked, not filtered (r14 advice)") {
    val s = spark
    import s.implicits._
    val t = freshTable()
    // file whose statsCol is ENTIRELY absent from bloom words (all-NULL
    // keys registered nothing pre-fix, so the file re-scanned forever)
    t.overwrite(kv(1L -> "a").coalesce(1))
    t.append(Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
      .toDF("k", "v").coalesce(1))
    assert(t.buildBloom() === 2L)
    assert(t.buildBloom() === 0L,
      "all-NULL-key files must enter the sidecar via their sentinel row")
    // an all-NULL file is PRUNABLE for any point probe (NULL never equals
    // a probe), while the keyed file still serves its key
    assert(t.prunedReadIn(Seq(1L)).inputFiles.length === 1)
    // filter bits scale with the file's committed rowcount: a 3000-row
    // file gets a 65536-bit filter (16·n rounded up to a power of two),
    // which still prunes — at the old fixed 8192 bits it would saturate
    val t2 = freshTable()
    t2.overwrite(kv((1L to 6000L by 2).map(i => i -> s"o$i"): _*).coalesce(1))
    t2.append(kv((2L to 6000L by 2).map(i => i -> s"e$i"): _*).coalesce(1))
    assert(t2.buildBloom() === 2L)
    assert(t2.prunedReadIn(Seq(2L)).inputFiles.length === 1,
      "a 3000-key file must still prune point probes (sized filter)")
    assert(rows(t2.prunedReadIn(Seq(2L)).filter("k = 2")) === Set(2L -> "e2"))
    // beyond the 2^18-bit cap (n > 16384) no filter is built: the file is
    // marked done (idempotent) and always survives pruning — honest
    // no-filter beats a silently saturated one
    val t3 = freshTable()
    t3.overwrite(kv((1L to 40001L by 2).map(i => i -> "x"): _*).coalesce(1))
    t3.append(kv(2L -> "e").coalesce(1))
    assert(t3.buildBloom() === 2L)
    assert(t3.buildBloom() === 0L, "oversized files must be marked done")
    assert(t3.prunedReadIn(Seq(3L)).inputFiles.length >= 1,
      "a beyond-capacity file always survives (never filtered out)")
    assert(rows(t3.prunedReadIn(Seq(3L)).filter("k = 3")) === Set(3L -> "x"))
  }

  test("footer stats: commits read per-file stats from parquet footers — bit-equal to the Spark-aggregate path, zero stats jobs") {
    val s = spark
    import s.implicits._
    // integer table → footer fast path; the SAME values as doubles →
    // general-type fallback (sparkStats). cast("long") of x.0 doubles
    // equals the integer stats, so the two tables' log entries must
    // record IDENTICAL (lo, hi, n, xs) — the bit-equality contract.
    val dirI = Files.createTempDirectory("graft-clog-ftr-i").toString
    val dirD = Files.createTempDirectory("graft-clog-ftr-d").toString
    val tI = new CommitTable(spark, dirI, "k", extraStatsCols = Seq("v2"))
    val tD = new CommitTable(spark, dirD, "k", extraStatsCols = Seq("v2"))
    val rowsMixed = Seq((1L, Option(5L)), (-7L, Option.empty[Long]), (9L, Option(-2L)))
    tI.overwrite(rowsMixed.toDF("k", "v2").coalesce(1))
    tD.overwrite(rowsMixed.map { case (k, v) => (k.toDouble, v.map(_.toDouble)) }
      .toDF("k", "v2").coalesce(1))
    def statsOf(dir: String): Seq[(Long, Long, Long, String)] = {
      val txt = new String(Files.readAllBytes(java.nio.file.Paths.get(
        dir, "_log", f"${0L}%020d.json")), java.nio.charset.StandardCharsets.UTF_8)
      txt.split("\n").filter(_.contains("\"add\"")).toSeq.map { l =>
        def f(k: String) = (s""""$k": (-?\\d+)""").r.findFirstMatchIn(l).map(_.group(1).toLong)
        val xs = """"xs": "([^"]*)"""".r.findFirstMatchIn(l).map(_.group(1)).orNull
        (f("lo").get, f("hi").get, f("n").get, xs)
      }
    }
    assert(statsOf(dirI) === Seq((-7L, 9L, 3L, "v2=-2:5")),
      s"footer-path stats wrong: ${statsOf(dirI)}")
    assert(statsOf(dirI) === statsOf(dirD),
      "footer fast path and Spark-aggregate fallback must record identical stats")
    // all-NULL slices: primary gets the whole-range window, extra is omitted
    tI.append(Seq((Option.empty[Long], Option.empty[Long])).toDF("k", "v2").coalesce(1))
    val nullAdd = new String(Files.readAllBytes(java.nio.file.Paths.get(
      dirI, "_log", f"${1L}%020d.json")), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.contains("\"add\"")).head
    assert(nullAdd.contains(s""""lo": ${Long.MinValue}""") &&
      nullAdd.contains(s""""hi": ${Long.MaxValue}""") && !nullAdd.contains("\"xs\""))
    // the stats job is GONE: an append is exactly the data-write job
    val sc = spark.sparkContext
    sc.setJobGroup("footer-append", "append without a stats job")
    tI.append(Seq((100L, Option(1L))).toDF("k", "v2").coalesce(1))
    sc.clearJobGroup()
    var prev = -1
    var jobs = sc.statusTracker.getJobIdsForGroup("footer-append").length
    val deadline = System.nanoTime() + 30e9.toLong
    while (jobs != prev && System.nanoTime() < deadline) {
      prev = jobs; Thread.sleep(200)
      jobs = sc.statusTracker.getJobIdsForGroup("footer-append").length
    }
    assert(jobs <= 1, s"append must run only the write job, saw $jobs")
    // pruning still plans off the committed stats
    assert(tI.prunedRead(100L, 200L).inputFiles.length === 2,
      "the keyed file and the conservative all-NULL file survive the cut")
  }

  test("changesBetween: multiset CDF through the log") {
    val t = freshTable()
    t.overwrite(kv(1L -> "a", 2L -> "b", 2L -> "b")) // duplicate row x2
    t.overwrite(kv(2L -> "b", 3L -> "c"))            // drops 1L and ONE 2L copy
    val got = t.changesBetween(0L, 1L).collect()
      .map(r => (r.getString(2), r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got === Seq(
      ("delete", 1L, "a"),
      ("delete", 2L, "b"), // exactly one copy: exceptAll keeps multiplicity
      ("insert", 3L, "c")))
    // a version diffed against itself is empty; compaction is content-neutral
    assert(t.changesBetween(1L, 1L).collect().isEmpty)
    t.compact(targetFiles = 1)
    assert(t.changesBetween(1L, 2L).collect().isEmpty)
    // an APPEND step's CDF is a plain read of the new files — shared
    // files cancel in the log-sized file-list intersection, so neither
    // the old snapshot nor an exceptAll shuffle is in the plan (the
    // O(changed data) contract; at a streamed table's cadence the CDF of
    // each micro-batch must never re-read the table)
    t.append(kv(9L -> "z").coalesce(1))
    val cdf = t.changesBetween(2L, 3L)
    assert(cdf.collect().map(r => (r.getString(2), r.getLong(0))).toSeq === Seq(("insert", 9L)))
    assert(cdf.inputFiles.length === 1, "append CDF must read only the appended files")
    assert(!cdf.queryExecution.executedPlan.toString.contains("Except"),
      "append CDF must not plan a multiset diff at all")
    // duplicate rows across SHARED and changed files still cancel exactly:
    // v3 has one (9,z); appending another copy diffs to exactly one insert
    t.append(kv(9L -> "z").coalesce(1))
    assert(t.changesBetween(3L, 4L).collect()
      .map(r => (r.getString(2), r.getLong(0))).toSeq === Seq(("insert", 9L)))
    // and the multi-step window still nets out content: 2 -> 4 is two inserts
    assert(t.changesBetween(2L, 4L).collect().count(_.getString(2) == "insert") === 2)
  }

  test("merge commits an upsert as a new version; pre-merge history intact") {
    val dir = Files.createTempDirectory("graft-clog-merge").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a", 2L -> "b", 3L -> "c"))
    val s = spark
    import s.implicits._
    val changes = Seq(
      (2L, "B", false), // update
      (3L, "c", true),  // delete
      (9L, "z", false)) // insert
      .toDF("k", "v", "del")
    assert(t.merge(changes, keys = Seq("k"), deleteCol = Some("del")) === 1L)
    assert(rows(t.read()) === Set(1L -> "a", 2L -> "B", 9L -> "z"))
    // the bad-upsert escape hatch: the pre-merge snapshot still resolves
    assert(rows(t.asOf(0L)) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("vacuum reclaims only unreferenced directories; carried files survive") {
    val dir = Files.createTempDirectory("graft-clog-vac").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a"))       // v0 -> d0
    t.append(kv(2L -> "b"))          // v1 -> d1, CARRIES d0's files
    t.overwrite(kv(9L -> "z"))       // v2 -> d2
    // keep v1+v2: v1 still references d0's files, so NOTHING is doomed
    assert(t.vacuum(keepLast = 2) === 0L)
    assert(rows(t.asOf(1L)) === Set(1L -> "a", 2L -> "b"))
    // keep only the head: d0 and d1 are now unreferenced and reclaimed
    assert(t.vacuum(keepLast = 1) === 2L)
    assert(rows(t.read()) === Set(9L -> "z"))
    assert(t.versions() === Seq(0L, 1L, 2L)) // provenance log entries remain
    // the vacuumed version's read now fails at the filesystem, loudly
    intercept[Exception](t.asOf(0L).collect())
    // idempotent: nothing left to reclaim
    assert(t.vacuum(keepLast = 1) === 0L)
    // the SQL statement path: same reclaim + returns the untouched head
    val t2 = freshTable()
    t2.overwrite(kv(1L -> "a"))
    t2.overwrite(kv(9L -> "z"))
    val viaSql = spark.sql(s"SELECT k, v FROM log_vacuum('${t2.path}', 'k', 1)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaSql === Set(9L -> "z"), "log_vacuum must return the head content")
    intercept[Exception](t2.asOf(0L).collect())
  }

  test("merge rejects a lost update: head moved between snapshot read and commit") {
    val dir = Files.createTempDirectory("graft-clog-lostupd").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a", 2L -> "b"))
    val s = spark
    import s.implicits._
    // a merge whose base snapshot resolution is immediately followed by an
    // interleaved commit: read() resolves v0, then another writer lands v1.
    // Without the base-version check the merge would commit cleanly at v2,
    // silently erasing the interleaved writer's 3L row (lost update).
    val interloper = new CommitTable(spark, dir, "k")
    val racing = new CommitTable(spark, dir, "k") {
      override protected def nextVersion(): Long = {
        // simulate the interleaving at the moment this merge commits
        if (latestVersion().contains(0L)) interloper.append(kv(3L -> "c"))
        super.nextVersion()
      }
    }
    val ex = intercept[java.util.ConcurrentModificationException](
      racing.merge(Seq((2L, "B", false)).toDF("k", "v", "del"),
        keys = Seq("k"), deleteCol = Some("del")))
    assert(ex.getMessage.contains("moved from version 0"))
    // the interleaved writer's commit is intact, nothing was overwritten
    assert(rows(new CommitTable(spark, dir, "k").read()) ===
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // a clean retry (stable head) succeeds at the next version
    assert(new CommitTable(spark, dir, "k").merge(
      Seq((2L, "B", false)).toDF("k", "v", "del"),
      keys = Seq("k"), deleteCol = Some("del")) === 2L)
    assert(rows(new CommitTable(spark, dir, "k").read()) ===
      Set(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("vacuum never touches an in-flight writer's staged directory or a too-young one") {
    val dir = Files.createTempDirectory("graft-clog-vacguard").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a"))   // v0
    t.overwrite(kv(2L -> "b"))   // v1; d0 is now unreferenced under keepLast=1
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an in-flight writer staged its data for the NEXT version but has not
    // published its log entry yet — version 2 > committed head 1
    val staged = new org.apache.hadoop.fs.Path(dir, "d2-deadbeef")
    fs.mkdirs(staged)
    // a huge retention window shields even the unreferenced committed dir
    assert(t.vacuum(keepLast = 1, retainMillis = 24L * 3600 * 1000) === 0L)
    // with no window, the unreferenced d0 goes — but the staged future
    // version survives (version guard, not age, protects it)
    assert(t.vacuum(keepLast = 1) === 1L)
    assert(fs.exists(staged), "vacuum deleted an in-flight writer's staged directory")
    assert(rows(t.read()) === Set(2L -> "b"))
  }

  test("stray non-numeric log artifacts never brick the table") {
    val dir = Files.createTempDirectory("graft-clog-stray").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a"))
    // a leftover staging file and a foreign tool's artifact land in _log
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(dir, "_log")
    Seq(".tmp-deadbeef.json", "notes.json", "00000000000000000001.json.crc").foreach { n =>
      val out = fs.create(new org.apache.hadoop.fs.Path(log, n), true)
      out.write("not a commit".getBytes); out.close()
    }
    assert(t.versions() === Seq(0L)) // invisible, not a NumberFormatException
    assert(rows(t.read()) === Set(1L -> "a"))
    assert(t.append(kv(2L -> "b")) === 1L) // commits still land past the debris
    assert(rows(t.read()) === Set(1L -> "a", 2L -> "b"))
  }

  test("a committed version is never observable partially written") {
    val dir = Files.createTempDirectory("graft-clog-atomic").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a", 2L -> "b"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every visible log file is fully written: carries a commit header AND
    // at least one add action (publish is rename-after-full-write, so a
    // zero-length head cannot exist even transiently)
    val log = new org.apache.hadoop.fs.Path(dir, "_log")
    fs.listStatus(log).filter(_.getPath.getName.matches("\\d{20}\\.json")).foreach { st =>
      assert(st.getLen > 0, s"zero-length committed log file ${st.getPath}")
      val in = fs.open(st.getPath)
      val content = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      assert(content.contains("\"type\": \"commit\"") && content.contains("\"type\": \"add\""))
    }
  }

  test("concurrent writers: exactly one commit per version; loser's staging is removed") {
    val dir = Files.createTempDirectory("graft-clog-race").toString
    val t1 = new CommitTable(spark, dir, "k")
    val t2 = new CommitTable(spark, dir, "k")
    t1.overwrite(kv(1L -> "a"))
    assert(t2.append(kv(2L -> "b")) === 1L)
    // the race, injected deterministically: a writer that resolved its next
    // version BEFORE t2's commit landed — its atomic create must lose
    val stale = new CommitTable(spark, dir, "k") {
      override protected def nextVersion(): Long = 1L // head is already 1
    }
    val ex = intercept[java.util.ConcurrentModificationException](stale.append(kv(4L -> "d")))
    assert(ex.getMessage.contains("committed by another writer"))
    // the loser's staged data directory was cleaned up
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("d1-"))
    assert(staged.length === 1, // t2's winning v1 directory and nothing else
      s"expected only the winner's d1- dir: ${staged.mkString(",")}")
    // the table is untouched by the failed commit: winner's head intact
    assert(new CommitTable(spark, dir, "k").latestVersion() === Some(1L))
    assert(rows(new CommitTable(spark, dir, "k").read()) === Set(1L -> "a", 2L -> "b"))
  }

  test("restore is metadata-only: head re-references old files, no data rewrite, history intact") {
    val t = freshTable()
    val dir = java.nio.file.Files.createTempDirectory("graft-restore-spec").toString
    val tt = new CommitTable(spark, dir, "k")
    tt.overwrite(kv(1L -> "a", 2L -> "b"))
    tt.overwrite(kv(9L -> "bad"))
    def dataDirs() = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("d")).map(_.getName).toSet
    val before = dataDirs()
    assert(tt.restore(0L) === 2L)
    // METADATA-ONLY: not a single new data directory
    assert(dataDirs() === before)
    // restored head = v0's content; the bad version stays inspectable
    assert(rows(tt.read()) === Set(1L -> "a", 2L -> "b"))
    assert(rows(tt.asOf(1L)) === Set(9L -> "bad"))
    // and the restore is itself an ordinary version: a later commit stacks on it
    tt.append(kv(3L -> "c"))
    assert(rows(tt.read()) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
    val _ = t // silence unused fresh table
  }

  test("optimizeZorder: content identical, stats pruning bites on the clustered layout") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder-spec").toString
    val t = new CommitTable(spark, dir, "x")
    val rnd = new scala.util.Random(13)
    val rows = (1 to 4000).map(_ => (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    // v0: scattered across 8 files — every file spans ~the whole x range
    t.overwrite(rows.toDF("x", "y").repartition(8))
    val before = t.prunedRead(0L, 63L).inputFiles.length
    assert(before === 8, "scattered layout should defeat pruning")
    assert(t.optimizeZorder("x", "y", targetFiles = 8) === 1L)
    // content is byte-identical
    assert(t.read().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === rows.sorted)
    assert(t.asOf(0L).count() === 4000L)
    // the Z-clustered layout prunes: a narrow x slice reads a strict subset
    val after = t.prunedRead(0L, 63L).inputFiles.length
    assert(after < 8, s"zorder layout should prune files, still reading $after of 8")
  }

  test("log_optimize_zorder TVF: statement form equals the Scala API; log_tables lists the binding") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder-tvf").toString
    val t = new CommitTable(spark, dir, "x", extraStatsCols = Seq("y"))
    val rnd = new scala.util.Random(29)
    val data = (1 to 4000).map(_ => (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    t.overwrite(data.toDF("x", "y").repartition(8))
    s.sql(s"SELECT * FROM log_register('zorder_tvf_t', '$dir', 'x', 'y')").collect()
    // the catalog lists exactly this binding (filtered — the registry is
    // process-wide and other suites register too)
    val cat = s.sql(
      "SELECT path, stats_col, extra_stats_cols FROM log_tables() WHERE name = 'zorder_tvf_t'")
      .collect()
    assert(cat.length === 1)
    assert(cat.head.getString(0) === dir)
    assert(cat.head.getString(1) === "x")
    assert(cat.head.getString(2) === "y")
    // the statement commits the same layout-only rewrite the Scala API does
    assert(s.sql("SELECT COUNT(*) FROM log_optimize_zorder('zorder_tvf_t', 'x', 'y')")
      .head().getLong(0) === 4000L)
    assert(t.latestVersion() === Some(1L))
    assert(t.read().collect().map(r => (r.getLong(0), r.getLong(1))).sorted === data.sorted)
    // ...and BOTH dimensions file-cut after it: the primary via the log's
    // stats pruning, the declared extra column via prunedReadOn
    assert(t.prunedRead(0L, 63L).inputFiles.length < 8)
    assert(t.prunedReadOn("y", 0L, 63L).inputFiles.length < 8)
  }

  test("appendIdempotent: re-delivery skipped, per-app markers independent, resolves across checkpoints") {
    val t = new CommitTable(spark,
      Files.createTempDirectory("graft-clog-txn").toString, "k", checkpointEvery = 4)
    assert(t.appendIdempotent(kv(1L -> "a"), "app1", 0L) === Some(0L))
    // the same transaction re-delivered: skipped — no version, no rows
    assert(t.appendIdempotent(kv(1L -> "a"), "app1", 0L) === None)
    // an OLDER transaction arriving late is also a replay
    assert(t.appendIdempotent(kv(9L -> "x"), "app1", -1L) === None)
    assert(t.appendIdempotent(kv(2L -> "b"), "app1", 1L) === Some(1L))
    // a different app keeps its own sequence
    assert(t.appendIdempotent(kv(3L -> "c"), "app2", 0L) === Some(2L))
    assert(t.txnVersion("app1") === Some(1L))
    assert(t.txnVersion("app2") === Some(0L))
    assert(t.txnVersion("nobody") === None)
    // marker-free commits in between don't disturb the sequences...
    t.append(kv(4L -> "d"))
    // ...and markers resolve across checkpoint-entry versions (v4 and v8
    // are snapshot-complete at checkpointEvery = 4)
    (2L to 6L).foreach { v =>
      assert(t.appendIdempotent(kv(100L + v -> "e"), "app1", v) === Some(v + 2L))
    }
    assert(t.appendIdempotent(kv(999L -> "z"), "app1", 6L) === None)
    assert(t.txnVersion("app1") === Some(6L))
    assert(t.read().count() === 9L)
  }

  test("vacuumRetain: versions inside the horizon survive, expired unreferenced directories go") {
    val t = freshTable()
    t.overwrite(kv(1L -> "a"), tsMillis = Some(1000L))  // v0 — expired
    t.overwrite(kv(2L -> "b"), tsMillis = Some(2000L))  // v1 — kept by ts
    t.append(kv(3L -> "c"), tsMillis = Some(3000L))     // v2 — head
    // cutoff = 3500 - 1500 = 2000: v1 and v2 are in-horizon, v0 expired
    assert(t.vacuumRetain(horizonMillis = 1500L, nowMillis = 3500L) === 1L)
    // head and the kept version still read; the expired overwrite doesn't
    assert(rows(t.read()) === Set(2L -> "b", 3L -> "c"))
    assert(rows(t.asOf(1L)) === Set(2L -> "b"))
    intercept[Exception](t.asOf(0L).collect())
    // the head survives even when EVERYTHING is past the horizon
    assert(t.vacuumRetain(horizonMillis = 0L, nowMillis = 100000L) === 0L)
    assert(rows(t.read()) === Set(2L -> "b", 3L -> "c"))
  }

  test("compactClusteredToSize: output file count derives from total bytes, content identical") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-clog-sizeopt").toString
    val t = new CommitTable(spark, dir, "k")
    val data = (1L to 4000L).map(k => (k, s"v$k"))
    t.overwrite(data.toDF("k", "v").repartition(8))
    val totalBytes = {
      val d = new java.io.File(dir)
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      walk(d)
    }
    // a budget of ~half the table folds to 2 files; content is unchanged
    t.compactClusteredToSize("k", targetBytes = (totalBytes + 1) / 2)
    assert(t.read().inputFiles.length === 2)
    assert(t.read().collect().map(r => (r.getLong(0), r.getString(1))).sorted
      === data.sorted)
    // a budget above the table folds to ONE file, never zero
    t.compactClusteredToSize("k", targetBytes = Long.MaxValue / 4)
    assert(t.read().inputFiles.length === 1)
    assert(t.read().count() === 4000L)
  }

  test("log_table_at_ts and log_restore TVFs: timestamp travel and restore as by-name statements") {
    val s = spark
    val dir = Files.createTempDirectory("graft-clog-rtvf").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a"), tsMillis = Some(1000L))
    t.overwrite(kv(2L -> "b", 3L -> "c"), tsMillis = Some(2000L))
    s.sql(s"SELECT * FROM log_register('rtvf_t', '$dir', 'k')").collect()
    // timestamp travel: between the commits resolves v0, at/after v1
    assert(s.sql("SELECT k, v FROM log_table_at_ts('rtvf_t', 1500)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet === Set(1L -> "a"))
    assert(s.sql("SELECT COUNT(*) FROM log_table_at_ts('rtvf_t', 2000)")
      .head().getLong(0) === 2L)
    // restore commits a new head carrying v0's content; history grows
    assert(s.sql("SELECT k, v FROM log_restore('rtvf_t', 0)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet === Set(1L -> "a"))
    assert(t.latestVersion() === Some(2L))
    assert(rows(t.asOf(1L)) === Set(2L -> "b", 3L -> "c"))
  }

  test("log_optimize_size and log_vacuum_retain TVFs: statement forms run the maintenance ops by name") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-clog-mtvf").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite((1L to 2000L).map(k => (k, s"v$k")).toDF("k", "v").repartition(8),
      tsMillis = Some(1000L))
    s.sql(s"SELECT * FROM log_register('mtvf_t', '$dir', 'k')").collect()
    // size-targeted OPTIMIZE folds 8 small files into one oversized budget
    assert(s.sql("SELECT COUNT(*) FROM log_optimize_size('mtvf_t', 'k', 1073741824)")
      .head().getLong(0) === 2000L)
    assert(t.read().inputFiles.length === 1)
    // the rewrite is a fresh commit (recent ts): retention reclaims only
    // the expired original layout's directory, head content untouched
    assert(s.sql("SELECT COUNT(*) FROM log_vacuum_retain('mtvf_t', 60000)")
      .head().getLong(0) === 2000L)
    assert(t.read().count() === 2000L)
    intercept[Exception](t.asOf(0L).collect())
  }

  test("changesBetween: reversed range rejected; schema-evolving window aligns both halves to the union schema") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-clog-cdfschema").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a", 2L -> "b"))
    // a reversed window would swap insert/delete labels — reject it loudly
    val e = intercept[IllegalArgumentException](t.changesBetween(1L, 0L))
    assert(e.getMessage.contains("must be <="))
    // widen on overwrite: the window mixes (k,v) before-files with
    // (k,v,w) after-files; both halves must come back under the UNION
    // schema (old rows null-filled), not a per-branch shape
    t.overwrite(Seq((2L, "b", 10L), (3L, "c", 20L)).toDF("k", "v", "w"))
    val cdf = t.changesBetween(0L, 1L)
    assert(cdf.columns.toSeq === Seq("k", "v", "w", "change_type"))
    val rows = cdf.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3))).toSet
    assert(rows === Set((1L, "a", -1L, "delete"), (2L, "b", -1L, "delete"),
      (2L, "b", 10L, "insert"), (3L, "c", 20L, "insert")))
    // single-sided windows carry the same union-alignment contract: an
    // APPEND of widened files yields an insert-only feed under the
    // window's union schema
    t.append(Seq((4L, "d", 30L)).toDF("k", "v", "w"))
    val ins = t.changesBetween(1L, 2L)
    assert(ins.columns.contains("w"))
    assert(ins.collect().map(r => (r.getLong(0), r.getString(3))).toSet === Set(4L -> "insert"))
  }

  test("log protocol guard: a version from a newer writer fails loudly instead of mis-resolving") {
    val dir = Files.createTempDirectory("graft-clog-proto").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a"))
    // simulate a future writer publishing an action set this build can't
    // interpret: version 1 lands with a bumped protocol marker
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_log", "%020d.json".format(1)),
      """{"type": "commit", "version": 1, "op": "future", "proto": 99, "ts": 99999}""")
    val e = intercept[IllegalArgumentException](t.read().collect())
    assert(e.getMessage.contains("protocol 99"))
    // versions this build wrote keep reading — the guard is per-version
    assert(rows(t.asOf(0L)) === Set(1L -> "a"))
    // ...and a future-protocol version INSIDE a delta resolution window is
    // caught too: v2 is an innocent delta, but resolving it walks the
    // chain back through v1 and must refuse there — a fold that silently
    // dropped v1's unknown actions would return a wrong file list
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_log", "%020d.json".format(2)),
      """{"type": "commit", "version": 2, "op": "append", "proto": 1, "ts": 99999, "delta": true, "nf": 1, "nr": 1}""")
    val e2 = intercept[IllegalArgumentException](
      new CommitTable(spark, dir, "k").read().collect())
    assert(e2.getMessage.contains("protocol 99"))
  }

  test("metadata planes bump the log protocol conditionally: old readers fail loudly on stamped versions, legacy tables stay protocol 1") {
    val dir = Files.createTempDirectory("graft-clog-proto-cond").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> "a", 2L -> "b"))   // v0: no metadata planes
    t.append(kv(3L -> "c"))                 // v1: still none
    // a reader from a PRE-r16 build (protocol 1) — legacy tables keep
    // working forever, because plane-free commits never bump
    def oldReader() = new CommitTable(spark, dir, "k") {
      override protected def supportedProtocol: Long = 1L
    }
    assert(rows(oldReader().read()) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // a DV delete stamps a DELTA-encoded sidecar version → protocol 3:
    // both the protocol-1 reader AND a protocol-2 (snapshot-sidecar era)
    // reader must FAIL LOUDLY here — a protocol-2 reader resolves the
    // sidecar with overwrite semantics and would silently over-delete
    // past an orphaned append
    def r17Reader() = new CommitTable(spark, dir, "k") {
      override protected def supportedProtocol: Long = 2L
    }
    t.deleteRangeDV(2L, 2L)                 // v2: delta dvv stamped
    val e = intercept[IllegalArgumentException](oldReader().read().collect())
    assert(e.getMessage.contains("protocol 3"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](r17Reader().read().collect())
    assert(e2.getMessage.contains("protocol 3"), e2.getMessage)
    // the guard is per-version: pre-stamp versions still read
    assert(rows(oldReader().asOf(1L)) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // the current build reads through the plane normally
    assert(rows(t.read()) === Set(1L -> "a", 3L -> "c"))
    // consolidation folds the chain to a SNAPSHOT sidecar version — the
    // stamp drops back to protocol 2, exactly what a snapshot-era reader
    // resolves correctly
    t.consolidateDv()                       // v3: snapshot dvv stamped
    assert(rows(r17Reader().read()) === Set(1L -> "a", 3L -> "c"))
    val e3 = intercept[IllegalArgumentException](oldReader().read().collect())
    assert(e3.getMessage.contains("protocol 2"), e3.getMessage)
    // OPTIMIZE materializes the vector and carries no plane → the commit
    // drops back to protocol 1 and old readers work again
    t.compact(1)                            // v4
    assert(rows(oldReader().read()) === Set(1L -> "a", 3L -> "c"))
  }

  test("maintenance commits auto-retry a lost race: the retried compaction reads the NEW head") {
    val dir = Files.createTempDirectory("graft-clog-optrace").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv((1L to 100L).map(k => k -> s"v$k"): _*))
    val interloper = new CommitTable(spark, dir, "k")
    var calls = 0
    val racing = new CommitTable(spark, dir, "k") {
      override protected def nextVersion(): Long = {
        calls += 1
        val v = super.nextVersion()
        // first attempt: an append lands after this resolution, the
        // compaction's rename loses; the retry must re-read the head so
        // the interleaved row is IN the rewrite (a stale-snapshot retry
        // would silently erase it — the lost update)
        if (calls == 1) interloper.append(kv(200L -> "i"))
        v
      }
    }
    assert(racing.compactClustered("k", targetFiles = 2) === 2L)
    assert(calls === 2, "the first attempt must lose the rename race and retry")
    val fresh = new CommitTable(spark, dir, "k")
    assert(fresh.read().count() === 101L)
    assert(rows(fresh.read()).contains(200L -> "i"),
      "the retried compaction must carry the interleaved append's row")
    assert(fresh.read().inputFiles.length === 2)
  }

  test("vacuum protects restore-re-referenced directories; vacuumed versions refuse to restore") {
    val t = freshTable()
    t.overwrite(kv(1L -> "a"))
    t.overwrite(kv(2L -> "b"))
    t.restore(0L) // head v2 references v0's directory
    // keepLast = 1 keeps only the head — but the head's file list IS v0's
    // directory, so reference counting must spare it (v1's dir is reclaimed)
    assert(t.vacuum(keepLast = 1) === 1L)
    assert(rows(t.read()) === Set(1L -> "a"))
    // v1's files are gone: restoring to it must fail loudly, not commit an
    // unreadable head
    val e = intercept[IllegalArgumentException](t.restore(1L))
    assert(e.getMessage.contains("vacuumed"))
    assert(t.latestVersion() === Some(2L), "failed restore must not commit")
  }

  test("write-audit-publish: clean batch publishes, dirty batch aborts with no trace") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    t.overwrite(kv(1L -> "a", 2L -> "b"))
    val rules = Seq(
      Validation.RowRule("k_positive", col("k") > 0L),
      Validation.RowRule("v_not_null", col("v").isNotNull))
    // clean batch: audited against the STAGED files, then published
    assert(t.appendAudited(kv(3L -> "c"), rules) === Right(1L))
    assert(rows(t.read()) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // dirty batch: both rules reported, only the violated one counts;
    // head and version history untouched, staging fully removed
    val dirty = {
      val s = spark; import s.implicits._
      Seq((0L, "x"), (4L, null.asInstanceOf[String]), (5L, "e")).toDF("k", "v")
    }
    t.appendAudited(dirty, rules) match {
      case Left(report) =>
        assert(report.toMap === Map("k_positive" -> 1L, "v_not_null" -> 1L))
      case Right(v) => fail(s"dirty batch published as version $v")
    }
    assert(t.versions() === Seq(0L, 1L), "aborted audit must not version the table")
    assert(rows(t.read()) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    val root = new java.io.File(t.read().inputFiles.head
      .stripPrefix("file:").split("/d1-").head)
    val staged = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("d2-"))
    assert(staged.isEmpty, s"aborted staging left debris: ${staged.mkString(",")}")
  }

  test("schema evolution on append: merged read surfaces the union schema, old versions keep theirs") {
    val t = freshTable()
    t.overwrite(kv(1L -> "a", 2L -> "b"))
    val widened = {
      val s = spark; import s.implicits._
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "v", "extra")
    }
    t.append(widened)
    val head = t.read()
    assert(head.columns.toSet === Set("k", "v", "extra"))
    val byK = head.collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(byK === Map(1L -> None, 2L -> None, 3L -> Some(30L), 4L -> Some(40L)),
      "pre-evolution rows must read NULL in the new column")
    assert(t.asOf(0L).columns.toSet === Set("k", "v"), "old versions keep their own schema")
    // the narrow direction too: a later batch MISSING the column null-fills
    t.append(kv(9L -> "z"))
    val r9 = t.read().filter("k = 9").head()
    assert(r9.isNullAt(r9.fieldIndex("extra")))
  }

  test("shallow clone is metadata-only, isolates both directions, and respects vacuum boundaries") {
    val root = Files.createTempDirectory("graft-clone-spec")
    val src = new CommitTable(spark, root.resolve("src").toString, "k")
    src.overwrite(kv(1L -> "a", 2L -> "b"))
    src.append(kv(3L -> "c"))
    val srcVersionsBefore = src.versions()

    val cl = new CommitTable(spark, root.resolve("clone").toString, "k")
    assert(cl.shallowCloneFrom(root.resolve("src").toString) === 0L)
    // clone reads the source head THROUGH borrowed files; no local data dirs
    assert(rows(cl.read()) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
    val localDirs = Option(root.resolve("clone").toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("d"))
    assert(localDirs.isEmpty, "a shallow clone must copy zero data")

    // clone evolves independently; the source never sees it
    cl.append(kv(9L -> "z"))
    assert(rows(cl.read()) === Set(1L -> "a", 2L -> "b", 3L -> "c", 9L -> "z"))
    assert(src.versions() === srcVersionsBefore)
    assert(rows(src.read()) === Set(1L -> "a", 2L -> "b", 3L -> "c"))

    // the clone's vacuum never reaches across roots: borrowed files survive
    cl.overwrite(kv(5L -> "e")) // clone v2 drops the borrowed references
    cl.vacuum(keepLast = 1)
    assert(rows(src.read()) === Set(1L -> "a", 2L -> "b", 3L -> "c"),
      "source files must survive the clone's vacuum")
    assert(rows(cl.asOf(0L)) === Set(1L -> "a", 2L -> "b", 3L -> "c"),
      "borrowed references still resolve after the clone's vacuum")

    intercept[IllegalArgumentException](
      cl.shallowCloneFrom(root.resolve("clone").toString)) // self-clone
    intercept[IllegalStateException](
      new CommitTable(spark, root.resolve("c2").toString, "k")
        .shallowCloneFrom(root.resolve("empty").toString)) // no commits
  }

  test("shallow clone of a vacuumed source head fails loudly") {
    val root = Files.createTempDirectory("graft-clone-vac")
    val src = new CommitTable(spark, root.resolve("src").toString, "k")
    src.overwrite(kv(1L -> "a"))
    // simulate the source-side vacuum race Delta warns about: the head's
    // data directory disappears under the would-be clone
    Option(root.resolve("src").toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("d0-"))
      .foreach { d =>
        d.listFiles().foreach(_.delete()); assert(d.delete())
      }
    intercept[IllegalArgumentException](
      new CommitTable(spark, root.resolve("clone").toString, "k")
        .shallowCloneFrom(root.resolve("src").toString))
  }

  test("timestamp time travel resolves the newest at-or-before version; too-early errors") {
    val t = freshTable()
    t.overwrite(kv(1L -> "a"), tsMillis = Some(1000L))
    t.append(kv(2L -> "b"), tsMillis = Some(2000L))
    t.overwrite(kv(9L -> "z"), tsMillis = Some(3000L))
    assert((0L to 2L).map(t.commitTs) === Seq(1000L, 2000L, 3000L))
    assert(rows(t.asOfTimestamp(1000L)) === Set(1L -> "a"), "at-instant read is inclusive")
    assert(rows(t.asOfTimestamp(1999L)) === Set(1L -> "a"))
    assert(rows(t.asOfTimestamp(2000L)) === Set(1L -> "a", 2L -> "b"))
    assert(rows(t.asOfTimestamp(Long.MaxValue)) === Set(9L -> "z"))
    intercept[IllegalArgumentException](t.asOfTimestamp(999L))
  }

  test("commit timestamps are monotonically adjusted (Delta's rule); wall clock is the default") {
    val t = freshTable()
    t.overwrite(kv(1L -> "a"), tsMillis = Some(5000L))
    // a clock reading BEFORE the predecessor is recorded as prev + 1
    t.append(kv(2L -> "b"), tsMillis = Some(4000L))
    assert(t.commitTs(1L) === 5001L)
    // equal clock also bumps
    t.append(kv(3L -> "c"), tsMillis = Some(5001L))
    assert(t.commitTs(2L) === 5002L)
    // and a default (wall-clock) commit still lands strictly after
    t.append(kv(4L -> "d"))
    assert(t.commitTs(3L) > t.commitTs(2L))
    // so timestamp resolution stays version-ordered throughout
    assert(rows(t.asOfTimestamp(5001L)) === Set(1L -> "a", 2L -> "b"))
  }

  test("compactSmall bin-packs ONLY sub-threshold files; at-size files carry untouched; DV entries materialize and go inert (r18)") {
    val dir = Files.createTempDirectory("graft-clog-small").toString
    val t = new CommitTable(spark, dir, "k")
    val s = spark
    import s.implicits._
    val big = (1L to 20000L).map(i => i -> s"payload-$i").toDF("k", "v")
    t.overwrite(big.coalesce(1))                               // v0: one at-size file
    t.append(kv(30001L -> "a").coalesce(1))                    // v1: small
    t.append(kv(30002L -> "b").coalesce(1))                    // v2: small
    t.append(kv(30003L -> "c").coalesce(1))                    // v3: small
    t.deleteRangeDV(30002L, 30002L)                            // v4: mark inside a small file
    val before = t.read().inputFiles.filterNot(_.contains("/_dv/")).toSet
    assert(before.size === 4)
    val v = t.compactSmall("k", 32768L, smallBytes = 16384L)   // v5: folds the 3 smalls
    assert(v === 5L)
    val after = t.read().inputFiles.filterNot(_.contains("/_dv/")).toSet
    val carried = before & after
    assert(carried.size === 1 && carried.head.contains("/d0-"),
      "the at-size file must carry untouched")
    assert((after -- before).size === 1, "small files must fold into one")
    // content exact; the small-file DV delete MATERIALIZED in the fold
    assert(rows(t.read()) === ((1L to 20000L).map(i => i -> s"payload-$i").toSet
      + (30001L -> "a") + (30003L -> "c")))
    // …and its sidecar entry went inert with the dropped file name
    assert(t.dvOutstanding() === 0L)
    // counters honest through the carried+rewritten mix
    val h5 = t.history().collect().find(_.getLong(0) == 5L).get
    assert(h5.getString(2) === "compact" && h5.getLong(4) === 20002L)
    // a lone sub-threshold file (the fresh fold output) is NOT rewritten
    assert(t.compactSmall("k", 32768L, smallBytes = 16384L) === 5L)
    // SQL statement form folds a second accretion round
    t.append(kv(40001L -> "d").coalesce(1))                    // v6
    t.append(kv(40002L -> "e").coalesce(1))                    // v7
    val n = spark.sql(
      s"SELECT COUNT(*) AS n FROM log_optimize_small('$dir', 'k', 'k', 32768)")
      .head().getLong(0)
    assert(n === 20004L)
    assert(t.latestVersion() === Some(8L))
    assert(t.read().inputFiles.count(!_.contains("/_dv/")) === 2)
  }

  test("maintain runs only the targeted ops the head needs; a healthy head commits nothing (r18)") {
    val dir = Files.createTempDirectory("graft-clog-maint").toString
    val t = new CommitTable(spark, dir, "k")
    val s = spark
    import s.implicits._
    val big = (1L to 20000L).map(i => i -> s"payload-$i").toDF("k", "v")
    t.overwrite(big.coalesce(1))                                // v0: at-size
    // healthy head: nothing runs, nothing commits
    assert(t.maintain("k", 32768L) === Nil)
    assert(t.latestVersion() === Some(0L))
    // churn: five small appends, one then fully DV-deleted
    (1L to 5L).foreach(i => t.append(kv(30000L + i -> s"x$i").coalesce(1))) // v1..v5
    t.deleteRangeDV(30001L, 30001L)                             // v6: v1's file 100% deleted
    val ops = t.maintain("k", 32768L)
    assert(ops === Seq("purge-dv", "compact-small"), ops.toString)
    assert(t.dvOutstanding() === 0L)
    assert(t.read().inputFiles.count(!_.contains("/_dv/")) === 2,
      "the at-size file + one fold of the small survivors")
    assert(rows(t.read()) === ((1L to 20000L).map(i => i -> s"payload-$i").toSet
      ++ (2L to 5L).map(i => (30000L + i) -> s"x$i")))
    // now healthy again (the lone fold output is small but alone)
    assert(t.maintain("k", 32768L) === Nil)
    // SQL statement form on a re-churned head
    (1L to 4L).foreach(i => t.append(kv(40000L + i -> s"y$i").coalesce(1)))
    val n = spark.sql(
      s"SELECT COUNT(*) AS n FROM log_maintain('$dir', 'k', 'k', 32768)")
      .head().getLong(0)
    assert(n === 20008L)
    assert(t.read().inputFiles.count(!_.contains("/_dv/")) === 2)
  }

  test("a table with no commits: every public entry fails or answers as declared") {
    val s = spark
    import s.implicits._
    val src = Seq((1L, "a", 2L)).toDF("k", "v", "x")
    val other = freshTable()
    val withRows = freshTable()
    withRows.overwrite(kv(1L -> "a"))
    // Left = (exception class, message prefix with <path> for the table's
    // root); Right = the value returned on the empty table
    val noCommits = Left((classOf[IllegalStateException], "no commits at <path>"))
    val notCommitted = Left((classOf[IllegalArgumentException],
      "requirement failed: version 0 is not committed at <path>"))
    val cases: Seq[(String, CommitTable => Any, Either[(Class[_], String), Any])] = Seq(
      ("versions", _.versions(), Right(Seq.empty[Long])),
      ("latestVersion", _.latestVersion(), Right(None)),
      ("fileStats", _.fileStats(), noCommits),
      ("read", _.read(), noCommits),
      ("history", _.history(), noCommits),
      ("asOf", _.asOf(0L), notCommitted),
      ("asOfTimestamp", _.asOfTimestamp(0L),
        Left((classOf[IllegalArgumentException], "requirement failed: no commits at <path>"))),
      ("commitTs", _.commitTs(0L), notCommitted),
      ("prunedRead", _.prunedRead(0L, 1L), noCommits),
      ("prunedReadIn", _.prunedReadIn(Seq(1L)), noCommits),
      ("localReadIn", _.localReadIn(Seq(1L)), noCommits),
      ("prunedReadOn", _.prunedReadOn("x", 0L, 1L), noCommits),
      ("buildBloom", _.buildBloom(), noCommits),
      ("dvVersionAt", _.dvVersionAt(0L), notCommitted),
      ("dvOutstanding", _.dvOutstanding(), Right(0L)),
      ("deleteRangeDV", _.deleteRangeDV(0L, 1L), noCommits),
      ("columnMapping", _.columnMapping(), Right(None)),
      ("renameColumn", _.renameColumn("v", "w"), noCommits),
      ("dropColumn", _.dropColumn("v"), noCommits),
      ("deleteWhereDV", _.deleteWhereDV("k > 0"), noCommits),
      ("updateWhereDV", _.updateWhereDV("k > 0", "v", "v"), noCommits),
      ("mergeDV", _.mergeDV(src, Seq("k")), noCommits),
      ("consolidateDv", _.consolidateDv(), noCommits),
      ("purgeDv", _.purgeDv(), noCommits),
      ("changesBetween", _.changesBetween(0L, 0L), notCommitted),
      ("txnVersion", _.txnVersion("app"), Right(None)),
      ("vacuum", _.vacuum(), Right(0L)),
      ("vacuumKeeping", _.vacuumKeeping(Set.empty), Right(0L)),
      ("vacuumRetain", _.vacuumRetain(0L), Right(0L)),
      ("merge", _.merge(src, Seq("k")), noCommits),
      ("deleteRange", _.deleteRange(0L, 1L), noCommits),
      ("updateRange", _.updateRange(0L, 1L, "v", "v"), noCommits),
      ("setInvariants", _.setInvariants("k BIGINT, v STRING"), noCommits),
      ("invariantsAt", _.invariantsAt(0L), notCommitted),
      ("invariants", _.invariants(), Right(None)),
      ("compact", _.compact(), noCommits),
      ("compactClustered", _.compactClustered("k"), noCommits),
      ("compactClusteredToSize", _.compactClusteredToSize("k", 1024L), noCommits),
      ("compactSmall", _.compactSmall("k", 1024L), noCommits),
      ("maintain", _.maintain("k", 1024L), noCommits),
      ("optimizeZorder", _.optimizeZorder("k", "k"), noCommits),
      ("restore", _.restore(0L), notCommitted),
      ("shallowCloneFrom(empty source)", _.shallowCloneFrom(other.path),
        Left((classOf[IllegalStateException], s"no commits at ${other.path}"))),
      // writes on an empty table create version 0
      ("append", _.append(src), Right(0L)),
      ("appendIdempotent", _.appendIdempotent(src, "app", 1L), Right(Some(0L))),
      ("appendAudited", _.appendAudited(src,
        Seq(Validation.RowRule("k_set", org.apache.spark.sql.functions.col("k").isNotNull))),
        Right(Right(0L))),
      ("overwrite", _.overwrite(src), Right(0L)),
      ("shallowCloneFrom", _.shallowCloneFrom(withRows.path), Right(0L)))
    val wrong = cases.flatMap { case (name, call, expected) =>
      val t = new CommitTable(spark, Files.createTempDirectory("graft-clog-empty").toString,
        "k", extraStatsCols = Seq("x"))
      val got = scala.util.Try(call(t)).toEither.left.map(e => (e.getClass, e.getMessage))
      val ok = (got, expected) match {
        case (Left((gc, gm)), Left((ec, em))) =>
          gc == ec && gm.startsWith(em.replace("<path>", t.path))
        case (Right(gv), Right(ev)) => gv == ev
        case _ => false
      }
      if (ok) None else Some(s"$name: got $got, expected $expected")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("job counts of read, point read, merge and the file-granular rewrites stay at their bound") {
    val s = spark
    import s.implicits._
    // four files with disjoint key windows: v0 = 1..10, v1..v3 append 11..40
    def fourFiles(): CommitTable = {
      val t = freshTable()
      (0 until 4).foreach { i =>
        val batch = (i * 10L + 1 to i * 10L + 10).map(k => k -> s"v$k").toDF("k", "v").coalesce(1)
        if (i == 0) t.overwrite(batch) else t.append(batch)
      }
      t
    }
    def jobsOf(body: CommitTable => Any, setup: CommitTable => Unit = _ => ()): Int = {
      val t = fourFiles()
      setup(t)
      val sc = spark.sparkContext
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(sc)
      sc.addSparkListener(listener)
      try {
        body(t)
        org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(sc)
        jobs.get
      } finally sc.removeSparkListener(listener)
    }
    val measured = Seq[(String, CommitTable => Any)](
      "read" -> (_.read().collect()),
      "prunedReadIn" -> (_.prunedReadIn(Seq(5L, 25L)).collect()),
      "localReadIn" -> (_.localReadIn(Seq(5L, 25L))),
      "driverRows" -> (_.driverRows(None, None, "all", CommitTable.DriverBudget)),
      "merge" -> (_.merge(kv(5L -> "m", 45L -> "n"), Seq("k"))),
      "deleteRange" -> (_.deleteRange(5L, 8L)),
      "compactSmall" -> (_.compactSmall("k", 1L << 20)),
      "deleteWhereDV" -> (_.deleteWhereDV("k >= 12 AND k <= 14"))
    ).map { case (name, body) => name -> jobsOf(body) }.toMap +
      // a head whose files are all gone (a cleared delete list) still reads on the driver
      ("driverRows, emptied head" -> jobsOf(_.driverRows(None, None, "all", CommitTable.DriverBudget),
        setup = _.overwrite(kv(1L -> "a").limit(0))))
    // the counts measured before file-list resolution moved to driver
    // data: the single-resolution path must not add a job to any of them
    // (the driver reads run none)
    val bound = Map("read" -> 2, "prunedReadIn" -> 2, "localReadIn" -> 0, "driverRows" -> 0,
      "driverRows, emptied head" -> 0,
      "merge" -> 4,
      "deleteRange" -> 2, "compactSmall" -> 3, "deleteWhereDV" -> 5)
    val over = measured.filter { case (n, j) => j > bound(n) }
    assert(over.isEmpty, s"job counts above bound: $over (bound $bound)")
  }
}
