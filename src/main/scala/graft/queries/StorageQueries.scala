package graft
package queries

import org.apache.spark.sql.functions._
import graft.graph.DerivedGraphs
import graft.operators.Partitioning
import graft.sources.{MatrixFormat, TableFormats}
import Oracle.{Derived, Sql}
import QuerySupport._

/** Storage layer: file-format round trips, layouts and the commit-log
  * table operations (merge, delete vectors, time travel, vacuum, CDF).
  */
private[graft] object StorageQueries {

  val all: Seq[Query] = Seq(
    Query("f10_manifest_scan", (s, dir) => {
      // external min/max stats manifest (the Iceberg/Delta data-skipping
      // shape): write range-sorted files + a per-file stats table, read a
      // key range back through the manifest so non-intersecting files are
      // never even LISTED as inputs (file-count pruning is spec-asserted;
      // the residual filter covers boundary files); oracle = the same
      // range aggregate straight from the source table
      val out = exportPath("manifest", dir)
      Partitioning.writeWithManifest(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"),
          dec12("o_totalprice").as("price")),
        out, statsCol = "o_orderkey", numFiles = 16)
      Partitioning.readManifestPruned(s, out, "o_orderkey",
          lo = 1000L, hi = 9000L)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("price").cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
      // range aggregate straight from the source
      Sql("""SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 9000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("f12_commit_log", (s, dir) => {
      // the commit-log table layer unifying q28/q32/f10/f11: overwrite,
      // append, and compaction each land as an atomic log commit (file
      // list + per-file stats in ONE JSONL entry per version); every
      // version is then read back THROUGH the log (asOf resolves exactly
      // that commit's file list — version 2 reads the compacted rewrite,
      // version 0 still resolves the original files). Oracle: the same
      // three snapshots derived from the source table. Fresh per-process
      // table each execution so version numbers are deterministic across
      // reps; shutdown-hook cleaned.
      val t = freshTable(s, "clog", "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      t.overwrite(nat.filter(col("n_nationkey") < 10))
      t.append(nat.filter(col("n_nationkey") >= 10))
      t.compact(targetFiles = 2)
      (0L to 2L).map { v =>
        t.asOf(v).agg(count(lit(1)).as("n_rows"), sum("n_nationkey").as("sum_key"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_key"))
      }.reduce(_ unionByName _).orderBy("version")
    },
      // three versioned snapshots derived straight from
      // the source: v0 = the filtered overwrite, v1 = after append (full
      // table), v2 = after compaction (content-preserving rewrite)
      Sql("""SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |       SUM(n_nationkey)::BIGINT AS sum_key FROM nation WHERE n_nationkey < 10
        |UNION ALL SELECT 1, COUNT(*), SUM(n_nationkey)::BIGINT FROM nation
        |UNION ALL SELECT 2, COUNT(*), SUM(n_nationkey)::BIGINT FROM nation
        |ORDER BY version""".stripMargin)),
    Query("f18_wap_publish", (s, dir) => {
      // write-audit-publish on the commit log (the Iceberg WAP shape):
      // v0 = overwrite base, then an audited append of a CLEAN batch
      // publishes (v1), and an audited append of a batch with planted
      // negative values ABORTS — staged files deleted, head untouched,
      // the violation count surfaced from the report. Output = the
      // (metric, value) summary of the whole scenario; oracle derives
      // every number from the same orders slices.
      val t = freshTable(s, "wap", "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      val rules = Seq(
        graft.operators.Validation.RowRule("k_not_null", col("k").isNotNull),
        graft.operators.Validation.RowRule("v_nonneg", col("v") >= 0L))
      t.overwrite(ord.filter(col("k") % 7 === 0))
      val published = t.appendAudited(ord.filter(col("k") % 7 === 1), rules)
        .getOrElse(sys.error("clean batch must publish"))
      val bad = ord.filter(col("k") % 7 === 2)
        .withColumn("v", when(col("k") % 3 === 0, -col("v") - 1).otherwise(col("v")))
      val aborted = t.appendAudited(bad, rules) match {
        case Left(report) => report.map(_._2).sum
        case Right(v) => sys.error(s"bad batch must not publish, got version $v")
      }
      import s.implicits._
      Seq(
        ("aborted_violations", aborted),
        ("head_rows", t.read().count()),
        ("n_versions", t.versions().size.toLong),
        ("published_version", published)
      ).toDF("metric", "value").orderBy("metric")
    },
      // every scenario number derived from the same
      // orders slices: violations = the planted k%3=0 rows of the k%7=2
      // batch, head = base ∪ clean batch, exactly two published versions
      Sql("""SELECT 'aborted_violations' AS metric,
        |       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 2 AND o_orderkey % 3 = 0)::BIGINT AS value
        |UNION ALL SELECT 'head_rows',
        |       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 IN (0, 1))::BIGINT
        |UNION ALL SELECT 'n_versions', 2::BIGINT
        |UNION ALL SELECT 'published_version', 1::BIGINT
        |ORDER BY metric""".stripMargin)),
    Query("f21_log_schema_evolution", (s, dir) => {
      // schema evolution on append (the Delta shape): v1's batch carries
      // a column v0 never had; the merged read surfaces the union schema
      // with NULLs where a file predates the column, while asOf(0) keeps
      // the original 2-column shape. Output = head aggregates + v0's
      // column count.
      val t = freshTable(s, "sevol", "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("long").as("r_extra"))
      t.overwrite(nat.filter(col("n_nationkey") < 10).drop("r_extra"))
      t.append(nat.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20))
      val v0cols = t.asOf(0L).columns.length.toLong
      t.read().agg(count(lit(1)).as("n_rows"), sum("n_nationkey").as("sum_key"),
          count(col("r_extra")).as("n_extra"), sum("r_extra").as("sum_extra"))
        .select(lit(v0cols).as("v0_cols"), col("n_rows"), col("sum_key"),
          col("n_extra"), col("sum_extra"))
    },
      // head = keys < 20; only the appended
      // batch (keys >= 10) carries the extra column; v0 kept 2 columns
      Sql("""SELECT CAST(2 AS BIGINT) AS v0_cols, COUNT(*) AS n_rows,
        |       SUM(n_nationkey)::BIGINT AS sum_key,
        |       SUM(CASE WHEN n_nationkey >= 10 THEN 1 ELSE 0 END)::BIGINT AS n_extra,
        |       SUM(CASE WHEN n_nationkey >= 10 THEN n_regionkey END)::BIGINT AS sum_extra
        |FROM nation WHERE n_nationkey < 20""".stripMargin)),
    Query("f20_shallow_clone", (s, dir) => {
      // SHALLOW CLONE: the clone's v0 re-references the source head's
      // files absolutely (metadata-only — zero data copied), then evolves
      // independently (a local append the source never sees). Output =
      // aggregates of source head, clone head, and the pre-append clone
      // snapshot; the clone-isolation and vacuum-boundary properties are
      // suite-asserted.
      val root = IndexCache.freshRoot("clone")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      val src = new graft.operators.CommitTable(s, root.resolve("src").toString, "n_nationkey")
      src.overwrite(nat.filter(col("n_nationkey") < 10))
      src.append(nat.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20))
      val cl = new graft.operators.CommitTable(s, root.resolve("clone").toString, "n_nationkey")
      cl.shallowCloneFrom(root.resolve("src").toString)
      cl.append(nat.filter(col("n_nationkey") >= 20))
      Seq(
        ("clone_head", cl.read()),
        ("clone_v0", cl.asOf(0L)),
        ("source_head", src.read())
      ).map { case (tag, df) =>
        df.agg(count(lit(1)).as("n_rows"), sum("n_nationkey").as("sum_key"))
          .select(lit(tag).as("snapshot"), col("n_rows"), col("sum_key"))
      }.reduce(_ unionByName _).orderBy("snapshot")
    },
      // each snapshot derived straight from the
      // source: clone_v0 = source head (keys < 20), clone_head adds the
      // local append (all keys), source_head is untouched by the clone
      Sql("""SELECT snapshot, COUNT(*) AS n_rows, SUM(n_nationkey)::BIGINT AS sum_key
        |FROM nation, (VALUES ('clone_head', 0, 1000000), ('clone_v0', 0, 19),
        |              ('source_head', 0, 19)) AS p(snapshot, lo, hi)
        |WHERE n_nationkey BETWEEN lo AND hi
        |GROUP BY snapshot ORDER BY snapshot""".stripMargin)),
    Query("f19_ts_travel", (s, dir) => {
      // TIMESTAMP AS OF time travel (Delta's rule: newest version whose
      // commit timestamp is at-or-before the asked instant): three
      // commits at explicit logical timestamps 1000/2000/3000 — v0 keys
      // < 10, v1 appends [10, 20), v2 overwrites with keys >= 20 — probed
      // between, at, and after the commit instants. The monotonic
      // timestamp adjustment and the too-early error are suite-tested.
      val t = freshTable(s, "tstravel", "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      t.overwrite(nat.filter(col("n_nationkey") < 10), tsMillis = Some(1000L))
      t.append(nat.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20),
        tsMillis = Some(2000L))
      t.overwrite(nat.filter(col("n_nationkey") >= 20), tsMillis = Some(3000L))
      Seq(1500L, 2000L, 2999L, 9999L).map { ts =>
        t.asOfTimestamp(ts)
          .agg(count(lit(1)).as("n_rows"), sum("n_nationkey").as("sum_key"))
          .select(lit(ts).as("ts_probe"), col("n_rows"), col("sum_key"))
      }.reduce(_ unionByName _).orderBy("ts_probe")
    },
      // each probe's snapshot derived straight from the
      // source: 1500 → v0 (keys < 10); 2000 and 2999 → v1 (keys < 20,
      // the at-instant read is inclusive); 9999 → v2 (keys >= 20)
      Sql("""SELECT ts_probe::BIGINT AS ts_probe, COUNT(*) AS n_rows,
        |       SUM(n_nationkey)::BIGINT AS sum_key
        |FROM nation, (VALUES (1500, 0, 9), (2000, 0, 19), (2999, 0, 19),
        |              (9999, 20, 1000000)) AS p(ts_probe, lo, hi)
        |WHERE n_nationkey BETWEEN lo AND hi
        |GROUP BY p.ts_probe ORDER BY ts_probe""".stripMargin)),
    Query("f22_log_delete", (s, dir) => {
      // DELETE WHERE as a FILE-GRANULAR CoW commit (the Delta/Iceberg
      // row-level-delete shape): the orders table lands range-clustered
      // so per-file key stats are tight; the delete rewrites ONLY the
      // files whose stats intersect the predicate — the rest carry
      // forward as log references (file granularity is spec-asserted;
      // this gate binds the content contract + history intactness).
      val t = freshTable(s, "logdel", "o_orderkey")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"))
      t.overwrite(ord.repartitionByRange(8, col("o_orderkey")))
      t.deleteRange(1000L, 5000L)
      val head = t.read().agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_key"))
      val v0 = t.asOf(0L).agg(count(lit(1)).as("n0"), sum("o_orderkey").as("s0"))
      head.crossJoin(v0) // 1-row x 1-row scalar attach
        .select(col("n_rows"), col("sum_key"), col("n0"), col("s0"))
    },
      // head excludes the deleted key range; v0 intact
      Sql("""SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000) AS n_rows,
        |       (SELECT SUM(o_orderkey)::BIGINT FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000) AS sum_key,
        |       (SELECT COUNT(*) FROM orders) AS n0,
        |       (SELECT SUM(o_orderkey)::BIGINT FROM orders) AS s0""".stripMargin)),
    Query("f23_bloom_pruning", (s, dir) => {
      // per-file BLOOM FILTERS (the Delta/Iceberg bloom-index shape):
      // odd and even orderkeys land as SEPARATE commits whose key windows
      // fully overlap — min/max stats can never prune a point lookup on
      // this layout — then buildBloom commits a 8192-bit fingerprint per
      // file into the _bloom sidecar and the SAME prunedReadIn point read
      // every persisted index uses skips proven-absent files (the
      // file-count cut is spec-asserted in CommitLogSpec; this gate binds
      // the content contract: bloom-pruned reads lose no row).
      val t = freshTable(s, "bloom", "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.filter(col("k") % 2 === 1).repartitionByRange(4, col("k")))
      t.append(ord.filter(col("k") % 2 === 0).repartitionByRange(4, col("k")))
      t.buildBloom()
      val probes = Seq(1L, 2L, 7L, 32L, 33L, 100L, 101L, 999L)
      t.prunedReadIn(probes).filter(col("k").isin(probes: _*))
        .agg(count(lit(1)).as("n_hit"), sum("k").as("sum_k"), sum("v").as("sum_v"))
    },
      // the bloom only cuts the FILE list; content is
      // the plain point-set filter
      Sql("""SELECT COUNT(*) AS n_hit, SUM(o_orderkey)::BIGINT AS sum_k, SUM(o_custkey)::BIGINT AS sum_v
        |FROM orders WHERE o_orderkey IN (1, 2, 7, 32, 33, 100, 101, 999)""".stripMargin)),
    Query("f24_log_checkpoint", (s, dir) => {
      // DELTA LOG ENTRIES + PERIODIC CHECKPOINT (the Delta log shape:
      // snapshot-complete-only logs are O(versions × files) at
      // streamed-commit cadence): appends write O(batch)
      // entries, every 3rd version is snapshot-complete, file-granular
      // DML lands as adds+removes — and head/asOf resolve identically
      // through and ACROSS the checkpoint boundary (the log-bytes and
      // entry-form contracts are spec-asserted in CommitLogSpec; this
      // gate binds content at every version of the chain).
      val t = freshTable(s, "ckptlog", "n_nationkey", checkpointEvery = 3)
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      val k = col("n_nationkey")
      t.overwrite(nat.filter(k < 5))                 // v0 snapshot
      t.append(nat.filter(k >= 5 && k < 10))         // v1 delta
      t.append(nat.filter(k >= 10 && k < 15))        // v2 delta
      t.append(nat.filter(k >= 15 && k < 20))        // v3 CHECKPOINT
      t.deleteRange(7L, 12L)                         // v4 delta: adds + removes
      t.append(nat.filter(k >= 20))                  // v5 delta
      (1L to 5L).map { v =>
        t.asOf(v).agg(count(lit(1)).as("n_rows"), sum("n_nationkey").as("sum_key"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_key"))
      }.reduce(_ unionByName _).orderBy("version")
    },
      // each version's snapshot restated from nation:
      // v1..v3 accumulate 5-key slices, v4 deletes keys 7..12, v5 appends
      // the tail — resolution through delta entries + the v3 checkpoint
      // must reproduce exactly these states
      Sql("""WITH s AS (SELECT n_nationkey::BIGINT AS k FROM nation)
        |SELECT 1::BIGINT AS version, COUNT(*) AS n_rows, SUM(k)::BIGINT AS sum_key FROM s WHERE k < 10
        |UNION ALL SELECT 2, COUNT(*), SUM(k)::BIGINT FROM s WHERE k < 15
        |UNION ALL SELECT 3, COUNT(*), SUM(k)::BIGINT FROM s WHERE k < 20
        |UNION ALL SELECT 4, COUNT(*), SUM(k)::BIGINT FROM s WHERE k < 20 AND k NOT BETWEEN 7 AND 12
        |UNION ALL SELECT 5, COUNT(*), SUM(k)::BIGINT FROM s WHERE k NOT BETWEEN 7 AND 12
        |ORDER BY version""".stripMargin)),
    Query("f25_multicol_stats", (s, dir) => {
      // MULTI-COLUMN per-file stats (Delta/Iceberg
      // record stats for the leading N columns; one stats column means a
      // second predicate column gets zero skipping): the table declares
      // o_custkey as an extra stats column and lands custkey-clustered,
      // so prunedReadOn cuts files on the SECOND column while the
      // primary (o_orderkey) log stats stay intact. The file-cut is
      // inputFiles-asserted in CommitLogSpec; this gate binds content.
      val t = freshTable(s, "xstats", "o_orderkey", extraStatsCols = Seq("o_custkey"))
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"))
      t.overwrite(ord.repartitionByRange(8, col("o_custkey")))
      t.prunedReadOn("o_custkey", 100L, 400L)
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_key"),
          sum("o_custkey").as("sum_cust"))
    },
      // the second-column range read: file pruning is
      // a plan property (spec-asserted); content equals the plain filter
      Sql("""SELECT COUNT(*) AS n_rows, SUM(o_orderkey)::BIGINT AS sum_key,
        |       SUM(o_custkey)::BIGINT AS sum_cust
        |FROM orders WHERE o_custkey BETWEEN 100 AND 400""".stripMargin)),
    Query("f29_avro_roundtrip", (s, dir) => {
      // AVRO interchange (the commodity ingest format beside
      // CSV/JSONL/ORC): a
      // lineitem projection crosses long/double/string/date columns
      // through snappy Avro container files written with the core Avro
      // API (one file per partition, temp+rename), is re-read
      // SCHEMA-FIRST from the embedded header, and aggregates back to
      // the parquet source's numbers. floor() keeps the double column's
      // aggregate integer-exact across engines.
      val root = IndexCache.freshRoot("avro")
      val out = root.resolve("li").toString
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey").cast("long").as("okey"),
        col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice").cast("double").as("price"),
        col("l_returnflag").as("flag"),
        col("l_shipdate").cast("timestamp").as("ship"))
      graft.sources.AvroTables.write(li.repartition(4), out)
      val back = graft.sources.AvroTables.read(s, out)
      back.groupBy("flag").agg(
          count(lit(1)).as("n"),
          sum("qty").as("sum_qty"),
          sum(floor(col("price")).cast("long")).as("sum_fprice"),
          countDistinct("ship").as("n_ship"))
        .orderBy("flag")
    },
      // the Avro roundtrip must land back on the
      // parquet source's numbers: per-flag counts, long sums, the
      // floor'd double sum (integer-exact both sides), and the distinct
      // timestamp count
      Sql("""SELECT l_returnflag AS flag, COUNT(*) AS n,
        |       SUM(l_quantity)::BIGINT AS sum_qty,
        |       SUM(FLOOR(l_extendedprice))::BIGINT AS sum_fprice,
        |       COUNT(DISTINCT l_shipdate)::BIGINT AS n_ship
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("f33_dv_append_delta", (s, dir) => {
      // APPEND-DELTA DV SIDECARS (a DV commit writes only its delta, not
      // the full outstanding position set): after
      // a big delete (901 keys), a small delete (10 keys) must stage
      // ONLY its own 10 positions in its sidecar link
      // (second_delta_rows — measured from the sidecar version's own
      // staged files), the per-window CDF must surface exactly the
      // window's link (cdf_w2_n), resolution must union the chain
      // exactly (head_rows/head_sum_k/outstanding), and consolidateDv
      // must fold the chain with identical content (consolidated_rows).
      val root = IndexCache.freshRoot("dvdelta")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.repartitionByRange(4, col("k")))            // v0
      t.deleteRangeDV(0L, 900L)                                   // v1: 901 marks
      t.deleteRangeDV(1000L, 1009L)                               // v2: 10 marks
      // O(new) assert: the second sidecar link's OWN staged files hold
      // exactly the 10 newly-marked positions, not the accumulated 911
      val dvv2 = t.dvVersionAt(2L).get
      val dvFiles = new java.io.File(s"$tp/_dv").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith(s"d$dvv2-"))
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
        .map(_.getPath)
      // links are range-encoded (file, pos_lo, pos_hi): the covered
      // POSITION count is the O(new) measure
      val secondDeltaRows =
        if (dvFiles.isEmpty) 0L
        else s.read.parquet(dvFiles.toIndexedSeq: _*)
          .agg(sum(col("pos_hi") - col("pos_lo") + lit(1L))).head().getLong(0)
      val cdfW2 = t.changesBetween(1L, 2L)
        .filter(col("change_type") === "delete").count()
      val headAgg = t.read().agg(count(lit(1)), sum("k")).head()
      val outstanding = t.dvOutstanding()
      t.consolidateDv()                                           // v3: fold
      val consolidatedRows = t.read().count()
      val s2 = s
      import s2.implicits._
      Seq(
        ("cdf_w2_n", cdfW2),
        ("consolidated_rows", consolidatedRows),
        ("head_rows", headAgg.getLong(0)),
        ("head_sum_k", headAgg.getLong(1)),
        ("outstanding", outstanding),
        ("second_delta_rows", secondDeltaRows)
      ).toDF("metric", "value").orderBy("metric")
    },
      // the append-delta sidecar restated: the
      // second delete's link stages exactly its own 10 positions, the
      // window CDF surfaces exactly those 10, resolution and the
      // consolidation fold both land on orders minus the two ranges
      Sql("""SELECT 'cdf_w2_n' AS metric,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1000 AND 1009)::BIGINT AS value
        |UNION ALL SELECT 'consolidated_rows',
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_orderkey NOT BETWEEN 0 AND 900 AND o_orderkey NOT BETWEEN 1000 AND 1009)
        |UNION ALL SELECT 'head_rows',
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_orderkey NOT BETWEEN 0 AND 900 AND o_orderkey NOT BETWEEN 1000 AND 1009)
        |UNION ALL SELECT 'head_sum_k',
        |  (SELECT SUM(o_orderkey)::BIGINT FROM orders
        |   WHERE o_orderkey NOT BETWEEN 0 AND 900 AND o_orderkey NOT BETWEEN 1000 AND 1009)
        |UNION ALL SELECT 'outstanding',
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_orderkey BETWEEN 0 AND 900 OR o_orderkey BETWEEN 1000 AND 1009)
        |UNION ALL SELECT 'second_delta_rows',
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1000 AND 1009)
        |ORDER BY metric""".stripMargin)),
    Query("f34_merge_evolve", (s, dir) => {
      // MERGE WITH SCHEMA EVOLUTION (widening on merge, as on append): a change-set carrying a NEW column widens
      // the target in the same atomic DV-merge commit — updated and
      // inserted rows carry the column, pre-merge rows read it as NULL
      // (null_tag_rows), v0 keeps the two-column surface (v0_cols), and
      // a DECLARED schema widens through the same gate (inv_widened).
      val t = freshTable(s, "mrgevo", "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.filter(col("k") <= 999).repartitionByRange(2, col("k"))) // v0
      t.setInvariants("k BIGINT, v BIGINT", notNull = Seq("k"))                // v1
      val s2 = s
      import s2.implicits._
      val src = ord.filter(col("k").between(100, 199))
          .withColumn("v", lit(-1L)).withColumn("tag", lit("u"))
        .unionByName((0L until 20L).map(i => (100000L + i, 777L, "i"))
          .toDF("k", "v", "tag"))
      t.mergeDV(src, Seq("k"), evolveSchema = true)                            // v2
      val head = t.read()
      val agg = head.agg(count(lit(1)), sum("v"),
        sum(when(col("tag").isNull, 1L).otherwise(0L)),
        sum(when(col("tag").isNotNull, 1L).otherwise(0L))).head()
      val invWidened =
        if (t.invariants().exists(_.schemaDdl.contains("tag"))) 1L else 0L
      Seq(
        ("head_cols", head.columns.sorted.mkString(",")),
        ("head_rows", agg.getLong(0).toString),
        ("head_sum_v", agg.getLong(1).toString),
        ("inv_widened", invWidened.toString),
        ("null_tag_rows", agg.getLong(2).toString),
        ("tagged_rows", agg.getLong(3).toString),
        ("v0_cols", t.asOf(0L).columns.sorted.mkString(","))
      ).toDF("metric", "value").orderBy("metric")
    },
      // the evolving merge restated: 1000 base rows
      // + 20 inserts; the new column is NULL exactly on the 900
      // untouched rows and set on the 100 updates + 20 inserts; the sum
      // nets the updates to -1 each and adds the inserts' 777s; the
      // declared schema widened
      Sql("""SELECT 'head_cols' AS metric, 'k,tag,v' AS value
        |UNION ALL SELECT 'head_rows',
        |  ((SELECT COUNT(*) FROM orders WHERE o_orderkey <= 999) + 20)::VARCHAR
        |UNION ALL SELECT 'head_sum_v',
        |  ((SELECT SUM(o_custkey) FROM orders
        |    WHERE o_orderkey <= 999 AND o_orderkey NOT BETWEEN 100 AND 199)
        |   - 100 + 777 * 20)::BIGINT::VARCHAR
        |UNION ALL SELECT 'inv_widened', '1'
        |UNION ALL SELECT 'null_tag_rows',
        |  ((SELECT COUNT(*) FROM orders WHERE o_orderkey <= 999) - 100)::VARCHAR
        |UNION ALL SELECT 'tagged_rows', '120'
        |UNION ALL SELECT 'v0_cols', 'k,v'
        |ORDER BY metric""".stripMargin)),
    Query("f35_purge_dv", (s, dir) => {
      // SELECTIVE DV MATERIALIZATION (Delta's REORG TABLE … APPLY
      // (PURGE)): between "leave vectors outstanding" (every read
      // pays the anti-join) and a full OPTIMIZE rewrite sits the
      // targeted purge — rewrite ONLY delete-dense files. Four
      // single-file commits; a dense delete (~83% of file A) and a
      // sparse one (~8% of file B); purgeDv(0.5) must rewrite ONLY
      // file A (carried_untouched, rewritten_files), keep content
      // exact (head_rows/head_sum_k), and trim the stamp to B's
      // surviving entries (outstanding_mid). The SQL statement
      // log_purge_dv(…, 0) then purges B too and CLEARS the plane
      // (outstanding_full, full_equal).
      val root = IndexCache.freshRoot("dvpurge")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.filter(col("k") <= 1200).coalesce(1))                  // v0: A
      t.append(ord.filter(col("k") > 1200 && col("k") <= 2400).coalesce(1))  // v1: B
      t.append(ord.filter(col("k") > 2400 && col("k") <= 3600).coalesce(1))  // v2: C
      t.append(ord.filter(col("k") > 3600).coalesce(1))                      // v3: D
      t.deleteRangeDV(0L, 1000L)                                             // v4: dense in A
      t.deleteRangeDV(1300L, 1400L)                                          // v5: sparse in B
      val before = t.read().inputFiles.filterNot(_.contains("/_dv/")).toSet
      t.purgeDv(0.5)                                                         // v6: A only
      val after = t.read().inputFiles.filterNot(_.contains("/_dv/")).toSet
      val carriedOk = if ((before & after).size == 3) 1L else 0L
      val rewritten = (after -- before).size.toLong
      val outstandingMid = t.dvOutstanding()
      val headAgg = t.read().agg(count(lit(1)), sum("k")).head()
      // SQL statement form carries the full purge
      val sqlRows = s.sql(s"SELECT COUNT(*) AS n FROM log_purge_dv('$tp', 'k', 0)")
        .head().getLong(0)
      val outstandingFull = t.dvOutstanding()
      val fullEqual = if (sqlRows == headAgg.getLong(0)) 1L else 0L
      val s2 = s
      import s2.implicits._
      Seq(
        ("carried_untouched", carriedOk),
        ("full_equal", fullEqual),
        ("head_rows", headAgg.getLong(0)),
        ("head_sum_k", headAgg.getLong(1)),
        ("outstanding_full", outstandingFull),
        ("outstanding_mid", outstandingMid),
        ("rewritten_files", rewritten)
      ).toDF("metric", "value").orderBy("metric")
    },
      // the selective purge restated: content after both
      // deletes (never changed by purging), the sparse file's surviving
      // mark count at the mid point, zero outstanding after the full
      // SQL purge, and the structural flags (3 clean files carried,
      // exactly 1 rewritten, SQL head equals the Scala head) all 1
      Sql("""SELECT 'carried_untouched' AS metric, 1::BIGINT AS value
        |UNION ALL SELECT 'full_equal', 1
        |UNION ALL SELECT 'head_rows',
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_orderkey NOT BETWEEN 0 AND 1000
        |     AND o_orderkey NOT BETWEEN 1300 AND 1400)
        |UNION ALL SELECT 'head_sum_k',
        |  (SELECT SUM(o_orderkey)::BIGINT FROM orders
        |   WHERE o_orderkey NOT BETWEEN 0 AND 1000
        |     AND o_orderkey NOT BETWEEN 1300 AND 1400)
        |UNION ALL SELECT 'outstanding_full', 0
        |UNION ALL SELECT 'outstanding_mid',
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 1300 AND 1400)
        |UNION ALL SELECT 'rewritten_files', 1
        |ORDER BY metric""".stripMargin)),
    Query("f36_compact_small", (s, dir) => {
      // INCREMENTAL OPTIMIZE (the real Delta/Iceberg semantics:
      // files already at target size are NEVER rewritten; compact/
      // compactClustered rewrite the whole head, which at 100 TB means
      // rewriting cold petabytes to fold a few streamed megabytes): one
      // large commit + four tiny streamed-shaped appends; the SQL
      // statement log_optimize_small folds ONLY the four small files
      // into one (carried_large, folded_new, head_files), content exact
      // (head_rows/head_sum_k = the whole orders table), and a lone
      // sub-threshold file is left alone (noop_ok).
      val root = IndexCache.freshRoot("smallopt")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.filter(col("k") > 4000).coalesce(1))                  // v0: large
      t.append(ord.filter(col("k") <= 1000).coalesce(1))                    // v1: small
      t.append(ord.filter(col("k") > 1000 && col("k") <= 2000).coalesce(1)) // v2: small
      t.append(ord.filter(col("k") > 2000 && col("k") <= 3000).coalesce(1)) // v3: small
      t.append(ord.filter(col("k") > 3000 && col("k") <= 4000).coalesce(1)) // v4: small
      val before = t.read().inputFiles.filterNot(_.contains("/_dv/")).toSet
      val sqlRows = s.sql(
        s"SELECT COUNT(*) AS n FROM log_optimize_small('$tp', 'k', 'k', 65536)") // v5
        .head().getLong(0)
      val after = t.read().inputFiles.filterNot(_.contains("/_dv/")).toSet
      val carriedOk = if ((before & after).size == 1) 1L else 0L
      val foldedNew = (after -- before).size.toLong
      // the fresh fold output sits under the small threshold but is
      // ALONE — a second pass must not churn it
      val noopOk = if (t.compactSmall("k", 65536L) == 5L) 1L else 0L
      val headAgg = t.read().agg(count(lit(1)), sum("k")).head()
      val s2 = s
      import s2.implicits._
      Seq(
        ("carried_large", carriedOk),
        ("folded_new", foldedNew),
        ("head_files", after.size.toLong),
        ("head_rows", headAgg.getLong(0)),
        ("head_sum_k", headAgg.getLong(1)),
        ("noop_ok", noopOk),
        ("sql_rows", sqlRows)
      ).toDF("metric", "value").orderBy("metric")
    },
      // the incremental OPTIMIZE restated: content
      // is the WHOLE orders table before and after (a layout-only
      // maintenance op), the head holds exactly 2 files (the untouched
      // large one + the one fold of the four small ones), and the
      // structural flags (large carried, one new file, lone-small
      // no-op) all 1
      Sql("""SELECT 'carried_large' AS metric, 1::BIGINT AS value
        |UNION ALL SELECT 'folded_new', 1
        |UNION ALL SELECT 'head_files', 2
        |UNION ALL SELECT 'head_rows', (SELECT COUNT(*) FROM orders)
        |UNION ALL SELECT 'head_sum_k', (SELECT SUM(o_orderkey)::BIGINT FROM orders)
        |UNION ALL SELECT 'noop_ok', 1
        |UNION ALL SELECT 'sql_rows', (SELECT COUNT(*) FROM orders)
        |ORDER BY metric""".stripMargin)),
    Query("f37_maintain", (s, dir) => {
      // ONE-CALL MAINTENANCE POLICY (the Delta auto-compaction shape): the health instruments (dvOutstanding, file-list sizes)
      // decide which TARGETED ops the head needs and only those run —
      // a healthy head commits NOTHING (healthy_noop/noop_after), a
      // churned one purges its delete-dense file and folds its small
      // ones in order (ops_ok), landing on one file with exact content.
      // Nation-sized on purpose: the policy's cost is the instruments'.
      val t = freshTable(s, "maint", "k")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("k"), col("n_name").as("v"))
      val k = col("k")
      t.overwrite(nat.filter(k < 5).coalesce(1))               // v0
      val healthyNoop = if (t.maintain("k", 1L << 20) == Nil) 1L else 0L
      t.append(nat.filter(k >= 5 && k < 10).coalesce(1))       // v1
      t.append(nat.filter(k >= 10 && k < 15).coalesce(1))      // v2
      t.append(nat.filter(k >= 15 && k < 20).coalesce(1))      // v3
      t.append(nat.filter(k >= 20).coalesce(1))                // v4
      t.deleteRangeDV(5L, 9L)                                  // v5: v1's file 100% dead
      val ops = t.maintain("k", 1L << 20)
      val opsOk = if (ops == Seq("purge-dv", "compact-small")) 1L else 0L
      val noopAfter = if (t.maintain("k", 1L << 20) == Nil) 1L else 0L
      val headAgg = t.read().agg(count(lit(1)), sum("k")).head()
      val headFiles = t.read().inputFiles.count(!_.contains("/_dv/")).toLong
      val s2 = s
      import s2.implicits._
      Seq(
        ("head_files", headFiles),
        ("head_rows", headAgg.getLong(0)),
        ("head_sum_k", headAgg.getLong(1)),
        ("healthy_noop", healthyNoop),
        ("noop_after", noopAfter),
        ("ops_ok", opsOk)
      ).toDF("metric", "value").orderBy("metric")
    },
      // the policy restated: one file after the churned
      // maintenance, content = nation minus the purged key range, and
      // every structural flag (healthy no-op, purge→fold order, no-op
      // after) must be 1
      Sql("""SELECT 'head_files' AS metric, 1::BIGINT AS value
        |UNION ALL SELECT 'head_rows',
        |  (SELECT COUNT(*) FROM nation WHERE n_nationkey NOT BETWEEN 5 AND 9)
        |UNION ALL SELECT 'head_sum_k',
        |  (SELECT SUM(n_nationkey)::BIGINT FROM nation
        |   WHERE n_nationkey NOT BETWEEN 5 AND 9)
        |UNION ALL SELECT 'healthy_noop', 1
        |UNION ALL SELECT 'noop_after', 1
        |UNION ALL SELECT 'ops_ok', 1
        |ORDER BY metric""".stripMargin)),
    Query("f30_dv_cdf", (s, dir) => {
      // DV-DELTA CDF (a change window whose deletion-vector stamp moved
      // needs no FULL multiset diff of the two snapshots): the feed is now composed
      // from the sidecar position delta joined back to its files —
      // O(deleted), never O(window content). Structural flags:
      // only_touched proves the plan read exactly ONE of the four
      // key-clustered data files (the one holding the deleted keys —
      // asserted via inputFiles), and equals_full_diff proves content
      // identity with the independent snapshot diff computed inline.
      val t = freshTable(s, "dvcdf", "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.repartitionByRange(4, col("k")))          // v0
      // low keys sit inside the FIRST range file at every scale factor
      // (orders keys are dense 0..N-1, so quartile boundaries scale)
      t.deleteWhereDV("k BETWEEN 10 AND 60")                    // v1 (one file's keys)
      val cdf = t.changesBetween(0L, 1L)
      val dataRead = cdf.inputFiles.filterNot(_.contains("/_dv/")).toSet
      val headFiles = t.asOf(0L).inputFiles.toSet
      val onlyTouched =
        if (dataRead.size == 1 && dataRead.subsetOf(headFiles)) 1L else 0L
      // independent content check: the full snapshot diff (the old
      // fallback's semantics, recomputed from the two committed reads)
      val dels = cdf.filter(col("change_type") === "delete").drop("change_type")
      val full = t.asOf(0L).exceptAll(t.asOf(1L))
      val equalsFull =
        if (dels.exceptAll(full).isEmpty && full.exceptAll(dels).isEmpty) 1L else 0L
      val agg = dels.agg(count(lit(1)), sum("k")).head()
      val nIns = cdf.filter(col("change_type") === "insert").count()
      val s2 = s
      import s2.implicits._
      Seq(
        ("cdf_deletes_n", agg.getLong(0)),
        ("cdf_inserts_n", nIns),
        ("cdf_sum_k", agg.getLong(1)),
        ("equals_full_diff", equalsFull),
        ("only_touched", onlyTouched)
      ).toDF("metric", "value").orderBy("metric")
    },
      // the sidecar-delta feed restated: exactly the
      // deleted key range as 'delete' rows, zero inserts, and both
      // structural flags (content == independent full diff; plan read
      // only the touched file) must be 1
      Sql("""SELECT 'cdf_deletes_n' AS metric,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey BETWEEN 10 AND 60)::BIGINT AS value
        |UNION ALL SELECT 'cdf_inserts_n', 0
        |UNION ALL SELECT 'cdf_sum_k',
        |  (SELECT SUM(o_orderkey)::BIGINT FROM orders WHERE o_orderkey BETWEEN 10 AND 60)
        |UNION ALL SELECT 'equals_full_diff', 1
        |UNION ALL SELECT 'only_touched', 1
        |ORDER BY metric""".stripMargin)),
    Query("f31_update_dv", (s, dir) => {
      // DV-BACKED UPDATE (updateRange rewrites
      // every predicate-intersecting FILE; the modern Delta UPDATE is
      // DV-mark + append in one commit): zero_rewrite proves every base
      // file is still referenced and the changed rows landed as NEW
      // files only; cow_equal proves the head equals the file-granular
      // CoW update on a twin table; the second update runs as the pure
      // SQL statement form. v0 time-travels to the original values.
      val root = IndexCache.freshRoot("dvupd")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.repartitionByRange(4, col("k")))          // v0
      val files0 = t.read().inputFiles.toSet.filterNot(_.contains("/_dv/"))
      t.updateWhereDV("k BETWEEN 100 AND 300", "v", "v + 1000000") // v1
      val files1 = t.read().inputFiles.toSet.filterNot(_.contains("/_dv/"))
      val zeroRewrite =
        if (files0.subsetOf(files1) && (files1 -- files0).nonEmpty) 1L else 0L
      // twin CoW update — head content must be identical
      val t2 = new graft.operators.CommitTable(s, root.resolve("cow").toString, "k")
      t2.overwrite(ord.repartitionByRange(4, col("k")))
      t2.updateRange(100L, 300L, "v", "v + 1000000")
      val a = t.read(); val b = t2.read()
      val cowEqual = if (a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty) 1L else 0L
      // SQL statement form for the second update
      s.sql(s"SELECT * FROM log_register('f31_t', '$tp', 'k')").collect()
      s.sql("""SELECT COUNT(*) FROM log_update_where_dv('f31_t',
              |'k BETWEEN 400 AND 450', 'v', 'v + 7')""".stripMargin).collect()
      val headAgg = t.read().agg(count(lit(1)), sum("v")).head()
      val v0Agg = t.asOf(0L).agg(sum("v")).head()
      val s2 = s
      import s2.implicits._
      Seq(
        ("cow_equal", cowEqual),
        ("head_rows", headAgg.getLong(0)),
        ("head_sum_v", headAgg.getLong(1)),
        ("v0_sum_v", v0Agg.getLong(0)),
        ("zero_rewrite", zeroRewrite)
      ).toDF("metric", "value").orderBy("metric")
    },
      // the DV update restated: row count unchanged,
      // the head's sum reflects BOTH updates (+1e6 per key in the Scala
      // range, +7 per key in the SQL-statement range), v0 keeps the
      // original sum, and the structural flags (no base file rewritten;
      // equal to the CoW update) must be 1
      Sql("""SELECT 'cow_equal' AS metric, 1::BIGINT AS value
        |UNION ALL SELECT 'head_rows', (SELECT COUNT(*) FROM orders)
        |UNION ALL SELECT 'head_sum_v',
        |  (SELECT SUM(o_custkey)::BIGINT
        |     + 1000000 * COUNT(*) FILTER (WHERE o_orderkey BETWEEN 100 AND 300)
        |     + 7 * COUNT(*) FILTER (WHERE o_orderkey BETWEEN 400 AND 450)
        |   FROM orders)
        |UNION ALL SELECT 'v0_sum_v', (SELECT SUM(o_custkey)::BIGINT FROM orders)
        |UNION ALL SELECT 'zero_rewrite', 1
        |ORDER BY metric""".stripMargin)),
    Query("f32_merge_dv", (s, dir) => {
      // DV-BACKED MERGE (the O(changed) upsert): matched target rows are DV-marked and the
      // change-set appended in ONE atomic commit — O(|change-set|)
      // written, zero existing files rewritten (zero_rewrite), content
      // equal to the full join-based merge on a twin table
      // (merge_equal). The change-set mixes all three MERGE actions:
      // updates, flag-marked deletes, and fresh-key inserts; a second
      // upsert-only merge runs as the pure SQL statement. Content
      // equality with the join-based merge on a twin table is
      // spec-asserted (DeletionVectorSpec "equal to the join merge") —
      // the gate keeps the zero-rewrite + head-content asserts
      // (a twin merge would double the gate's cost).
      val root = IndexCache.freshRoot("dvmerge")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.repartitionByRange(4, col("k")))          // v0
      val files0 = t.read().inputFiles.toSet.filterNot(_.contains("/_dv/"))
      val s2 = s
      import s2.implicits._
      val src = ord.filter(col("k").between(100, 199))
          .withColumn("v", lit(-1L)).withColumn("__del", lit(false))
        .unionByName(ord.filter(col("k").between(200, 299))
          .withColumn("__del", lit(true)))
        .unionByName((0L until 50L).map(i => (1000000L + i, 777L, false))
          .toDF("k", "v", "__del"))
      t.mergeDV(src, Seq("k"), deleteCol = Some("__del"))        // v1
      val files1 = t.read().inputFiles.toSet.filterNot(_.contains("/_dv/"))
      val zeroRewrite =
        if (files0.subsetOf(files1) && (files1 -- files0).nonEmpty) 1L else 0L
      // SQL statement leg: an upsert-only merge by registered name
      s.sql(s"SELECT * FROM log_register('f32_t', '$tp', 'k')").collect()
      ord.filter(col("k").between(400, 420)).withColumn("v", lit(-2L))
        .createOrReplaceTempView("f32_src")
      s.sql("SELECT COUNT(*) FROM log_merge_dv('f32_t', 'f32_src', 'k')").collect()
      val headAgg = t.read().agg(count(lit(1)), sum("v")).head()
      val v0Rows = t.asOf(0L).count()
      Seq(
        ("head_rows", headAgg.getLong(0)),
        ("head_sum_v", headAgg.getLong(1)),
        ("v0_rows", v0Rows),
        ("zero_rewrite", zeroRewrite)
      ).toDF("metric", "value").orderBy("metric")
    },
      // the DV merge restated: rows = orders minus the
      // deleted range plus the 50 inserts (the SQL upsert adds none —
      // its keys exist); sum reflects updates to -1, the deleted
      // range's removal, the inserts' 777s, and the SQL upsert's -2s;
      // the structural flag must be 1 (twin-merge equality is
      // spec-asserted in DeletionVectorSpec)
      Sql("""SELECT 'head_rows' AS metric,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_orderkey NOT BETWEEN 200 AND 299)::BIGINT + 50 AS value
        |UNION ALL SELECT 'head_sum_v',
        |  (SELECT SUM(o_custkey)::BIGINT FROM orders
        |   WHERE o_orderkey NOT BETWEEN 100 AND 299
        |     AND o_orderkey NOT BETWEEN 400 AND 420)
        |  + (SELECT -1 * COUNT(*) FROM orders WHERE o_orderkey BETWEEN 100 AND 199)
        |  + (SELECT -2 * COUNT(*) FROM orders WHERE o_orderkey BETWEEN 400 AND 420)
        |  + 50 * 777
        |UNION ALL SELECT 'v0_rows', (SELECT COUNT(*) FROM orders)
        |UNION ALL SELECT 'zero_rewrite', 1
        |ORDER BY metric""".stripMargin)),
    Query("f28_column_mapping", (s, dir) => {
      // COLUMN MAPPING (rename/drop without rewriting every file): RENAME and
      // DROP are metadata-only commits (zero_rewrite compares inputFiles
      // before/after both), the head reads the new surface, the
      // pre-rename version keeps its old names verbatim, and a write
      // AFTER the rename uses the logical name while landing under the
      // stable physical file names. Collision/retire semantics and DML
      // composition are spec-asserted in ColumnMappingSpec.
      val t = freshTable(s, "cmapgate", "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("long").as("n_regionkey"))
      t.overwrite(nat.filter(col("n_nationkey") < 10))                // v0
      val files0 = t.read().inputFiles.toSet
      t.renameColumn("n_name", "nation_name")                         // v1
      t.dropColumn("n_regionkey")                                     // v2
      val zeroRewrite = if (t.read().inputFiles.toSet == files0) 1L else 0L
      // write after rename: logical names in, physically-stable files out
      t.append(nat.filter(col("n_nationkey") >= 10)
        .withColumnRenamed("n_name", "nation_name").drop("n_regionkey")) // v3
      val headCols = t.read().columns.mkString(",")
      val v0Cols = t.asOf(0L).columns.mkString(",")
      val headAgg = t.read().agg(count(lit(1)),
        sum(length(col("nation_name")))).head()
      val s2 = s
      import s2.implicits._
      Seq(
        ("head_cols", headCols),
        ("head_name_len", headAgg.getLong(1).toString),
        ("head_rows", headAgg.getLong(0).toString),
        ("v0_cols", v0Cols),
        ("zero_rewrite", zeroRewrite.toString)
      ).toDF("metric", "value").orderBy("metric")
    },
      // the renamed/dropped surface restated: the
      // head is (key, renamed name) over all of nation, v0 keeps the
      // original three columns, and the structural flag is 1
      Sql("""SELECT 'head_cols' AS metric, 'n_nationkey,nation_name' AS value
        |UNION ALL SELECT 'head_name_len',
        |  (SELECT SUM(LENGTH(n_name))::BIGINT FROM nation)::VARCHAR
        |UNION ALL SELECT 'head_rows', (SELECT COUNT(*) FROM nation)::VARCHAR
        |UNION ALL SELECT 'v0_cols', 'n_nationkey,n_name,n_regionkey'
        |UNION ALL SELECT 'zero_rewrite', '1'
        |ORDER BY metric""".stripMargin)),
    Query("f27_deletion_vectors", (s, dir) => {
      // DELETION VECTORS (deleteRange rewrites
      // every predicate-intersecting file, so row-granular deletes pay
      // file-granular IO): the DV delete commits O(deleted) sidecar
      // bytes with ZERO data-file rewrites (zero_rewrite compares the
      // head's inputFiles set before/after), reads are exact through
      // the vector, v0 time-travels to the full content, and OPTIMIZE
      // materializes the deletes and clears the stamp (dv_cleared) with
      // identical content (opt_* == head_*). Orphan-safety, CDF
      // fallback, and DML composition are spec-asserted in
      // DeletionVectorSpec.
      val t = freshTable(s, "dvgate", "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.repartitionByRange(6, col("k")))            // v0
      val files0 = t.read().inputFiles.toSet
      t.deleteRangeDV(1000L, 5000L)                               // v1
      val files1 = t.read().inputFiles.toSet.filterNot(_.contains("/_dv/"))
      val zeroRewrite = if (files1 == files0) 1L else 0L
      val headAgg = t.read().agg(count(lit(1)), sum("k")).head()
      val v0Rows = t.asOf(0L).count()
      t.compactClustered("k", 2)                                  // v2: OPTIMIZE
      val cleared = if (t.dvOutstanding() == 0L) 1L else 0L
      val optAgg = t.read().agg(count(lit(1)), sum("k")).head()
      val s2 = s
      import s2.implicits._
      Seq(
        ("dv_cleared", cleared),
        ("head_rows", headAgg.getLong(0)),
        ("head_sum_k", headAgg.getLong(1)),
        ("opt_rows", optAgg.getLong(0)),
        ("opt_sum_k", optAgg.getLong(1)),
        ("v0_rows", v0Rows),
        ("zero_rewrite", zeroRewrite)
      ).toDF("metric", "value").orderBy("metric")
    },
      // the DV delete's content flags restated:
      // head and post-OPTIMIZE both exclude the deleted range, v0 keeps
      // everything, and the structural flags (zero rewrites, stamp
      // cleared) must be 1
      Sql("""SELECT 'dv_cleared' AS metric, 1::BIGINT AS value
        |UNION ALL SELECT 'head_rows',
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000)
        |UNION ALL SELECT 'head_sum_k',
        |  (SELECT SUM(o_orderkey)::BIGINT FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000)
        |UNION ALL SELECT 'opt_rows',
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000)
        |UNION ALL SELECT 'opt_sum_k',
        |  (SELECT SUM(o_orderkey)::BIGINT FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000)
        |UNION ALL SELECT 'v0_rows', (SELECT COUNT(*) FROM orders)
        |UNION ALL SELECT 'zero_rewrite', 1
        |ORDER BY metric""".stripMargin)),
    Query("f26_invariants", (s, dir) => {
      // SCHEMA-ON-WRITE + DECLARED INVARIANTS (without a table-level declaration, one mistyped producer silently
      // widens a 100 TB table): after setInvariants, a clean append
      // commits, a CHECK-violating batch aborts atomically (head,
      // history, and disk untouched — disk-cleanliness spec-asserted in
      // InvariantsSpec), and a schema-drifted batch (undeclared column /
      // type drift / missing NOT NULL) rejects BEFORE staging. Output =
      // the rejection flags + the head's aggregates, which must equal
      // the two CLEAN batches alone.
      val t = freshTable(s, "invgate", "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.filter(col("k") <= 5000))                       // v0
      t.setInvariants("k BIGINT, v BIGINT",
        checks = Seq("k_nonneg" -> "k >= 0"), notNull = Seq("k", "v"))// v1
      t.append(ord.filter(col("k") > 5000))                           // v2
      def rejected(body: => Long): Long =
        try { body; 0L }
        catch { case _: graft.operators.InvariantViolationException => 1L }
      val checkRej = rejected(t.append(
        ord.filter(col("k") % 97 === 0).withColumn("k", -(col("k") + 1))))
      val driftRej = rejected(t.append(
        ord.limit(5).withColumn("wrong", lit("x"))))
      val nnRej = rejected(t.append(ord.limit(5).drop("v")))
      t.read().agg(count(lit(1)).as("rows_"), sum("k").as("sk"), sum("v").as("sv"))
        .select(explode(array(
          struct(lit("check_rejected").as("metric"), lit(checkRej).as("value")),
          struct(lit("drift_rejected").as("metric"), lit(driftRej).as("value")),
          struct(lit("head_rows").as("metric"), col("rows_").as("value")),
          struct(lit("head_sum_k").as("metric"), col("sk").as("value")),
          struct(lit("head_sum_v").as("metric"), col("sv").as("value")),
          struct(lit("head_version").as("metric"),
            lit(t.latestVersion().getOrElse(-1L)).as("value")),
          struct(lit("notnull_rejected").as("metric"), lit(nnRej).as("value")))).as("m"))
        .select(col("m.metric").as("metric"), col("m.value").as("value"))
        .orderBy("metric")
    },
      // every rejection flag is 1; the head holds exactly
      // the two clean batches = all of orders at head_version 2
      Sql("""SELECT 'check_rejected' AS metric, 1::BIGINT AS value
        |UNION ALL SELECT 'drift_rejected', 1
        |UNION ALL SELECT 'head_rows', (SELECT COUNT(*) FROM orders)
        |UNION ALL SELECT 'head_sum_k', (SELECT SUM(o_orderkey)::BIGINT FROM orders)
        |UNION ALL SELECT 'head_sum_v', (SELECT SUM(o_custkey)::BIGINT FROM orders)
        |UNION ALL SELECT 'head_version', 2
        |UNION ALL SELECT 'notnull_rejected', 1
        |ORDER BY metric""".stripMargin)),
    Query("f16_log_restore", (s, dir) => {
      // RESTORE as a metadata-only commit: v0 = keys < 10, v1 = overwrite
      // with the complement, v2 = restore(0) — the head re-references v0's
      // files (no data rewrite; the restore commit is one log file), the
      // "bad" v1 stays inspectable, and the restored head reads exactly
      // v0's content THROUGH the log. Oracle: the same snapshot derived
      // straight from the source.
      val t = freshTable(s, "restore", "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      t.overwrite(nat.filter(col("n_nationkey") < 10))
      t.overwrite(nat.filter(col("n_nationkey") >= 10))
      val head = t.restore(0L)
      t.read().agg(count(lit(1)).as("n_rows"), sum("n_nationkey").as("sum_key"))
        .select(lit(head).as("version"), col("n_rows"), col("sum_key"))
    },
      // the restored head (version 2) carries exactly
      // v0's snapshot
      Sql("""SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |       SUM(n_nationkey)::BIGINT AS sum_key FROM nation WHERE n_nationkey < 10""".stripMargin)),
    Query("f17_log_zorder", (s, dir) => {
      // OPTIMIZE ZORDER as a commit: v0 = scattered 2-D keyed rows, v1 =
      // the Z-clustered rewrite — content byte-identical (both versions
      // aggregated below), layout now skips files on either dimension
      // (pruning bite suite-asserted in CommitLogSpec; f8 gates the code
      // arithmetic itself). Fresh per-process table, shutdown-hook cleaned
      val t = freshTable(s, "zlog", "x")
      val li = Tables.lineitem(s, dir).select(
        (col("l_orderkey") % 1024).cast("long").as("x"),
        (col("l_partkey") % 1024).cast("long").as("y"),
        col("l_quantity").cast("long").as("q"))
      t.overwrite(li.repartition(4))
      t.optimizeZorder("x", "y")
      (0L to 1L).map { v =>
        t.asOf(v).agg(count(lit(1)).as("n_rows"), sum("x").as("sum_x"),
          sum("y").as("sum_y"), sum("q").as("sum_q"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_x"), col("sum_y"), col("sum_q"))
      }.reduce(_ unionByName _).orderBy("version")
    },
      // both versions carry the identical derivation —
      // the zorder commit is layout-only
      Sql("""WITH d AS (SELECT l_orderkey % 1024 AS x, l_partkey % 1024 AS y,
        |                  l_quantity::BIGINT AS q FROM lineitem)
        |SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |       SUM(x)::BIGINT AS sum_x, SUM(y)::BIGINT AS sum_y, SUM(q)::BIGINT AS sum_q FROM d
        |UNION ALL SELECT 1, COUNT(*), SUM(x)::BIGINT, SUM(y)::BIGINT, SUM(q)::BIGINT FROM d
        |ORDER BY version""".stripMargin)),
    Query("f14_log_merge", (s, dir) => {
      // MERGE INTO bound to the commit log: v0 = the full projection, v1 =
      // one atomic merge commit applying updates (region bumped for keys
      // < 5), deletes (keys >= 20), and an insert (key 99) in one
      // change-set; the merged head is read back THROUGH the log and the
      // pre-merge version stays readable (asserted in CommitLogSpec).
      // Oracle derives the same merged snapshot from the source table
      val t = freshTable(s, "lmerge", "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      t.overwrite(nat)
      val changes = nat.filter(col("n_nationkey") < 5)
          .withColumn("n_regionkey", col("n_regionkey") + 100)
          .withColumn("del", lit(false))
        .unionByName(nat.filter(col("n_nationkey") >= 20).withColumn("del", lit(true)))
        .unionByName {
          import s.implicits._
          Seq((99L, "NEWLAND", 42L, false)).toDF("n_nationkey", "n_name", "n_regionkey", "del")
        }
      t.merge(changes, keys = Seq("n_nationkey"), deleteCol = Some("del"))
      t.read().agg(count(lit(1)).as("n_rows"),
        sum("n_nationkey").as("sum_key"), sum("n_regionkey").as("sum_region"))
    },
      // the merged snapshot derived straight from the
      // source: survivors are keys < 20 (region + 100 below key 5) plus
      // the inserted (99, region 42)
      Sql("""SELECT COUNT(*) AS n_rows, SUM(k)::BIGINT AS sum_key, SUM(r)::BIGINT AS sum_region
        |FROM (SELECT n_nationkey AS k,
        |             CASE WHEN n_nationkey < 5 THEN n_regionkey + 100 ELSE n_regionkey END AS r
        |      FROM nation WHERE n_nationkey < 20
        |      UNION ALL SELECT 99, 42)""".stripMargin)),
    Query("f15_log_vacuum", (s, dir) => {
      // retention through the log: v0's overwrite directory becomes
      // unreferenced once v1 overwrites, v2 appends; vacuum(keepLast=2)
      // reclaims EXACTLY that one directory (reference-counted against
      // the kept versions' full file lists) and the head keeps reading
      // the complete content. Fresh per-process table, shutdown-cleaned
      val t = freshTable(s, "vac", "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      t.overwrite(nat.filter(col("n_nationkey") < 5))
      t.overwrite(nat.filter(col("n_nationkey") >= 5))
      t.append(nat.filter(col("n_nationkey") < 5))
      val removed = t.vacuum(keepLast = 2)
      t.read().agg(count(lit(1)).as("n_rows"), sum("n_nationkey").as("sum_key"))
        .select(lit(removed).as("n_removed"), col("n_rows"), col("sum_key"))
    },
      // exactly ONE unreferenced directory reclaimed;
      // the head still carries the full table
      Sql("""SELECT 1::BIGINT AS n_removed, COUNT(*) AS n_rows,
        |       SUM(n_nationkey)::BIGINT AS sum_key FROM nation""".stripMargin)),
    Query("f13_log_cdf", (s, dir) => {
      // change-data-feed THROUGH the commit log: three committed versions
      // (v0 = keys < 15, v1 = + keys >= 15, v2 = overwrite keys >= 5), then
      // changesBetween(0, 2) — multiset row diff of two real committed file
      // lists — rolled up per change_type. Oracle derives the same
      // insert/delete sets straight from the source table. Fresh
      // per-process table per execution, shutdown-hook cleaned
      val t = freshTable(s, "cdf", "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      t.overwrite(nat.filter(col("n_nationkey") < 15))
      t.append(nat.filter(col("n_nationkey") >= 15))
      t.overwrite(nat.filter(col("n_nationkey") >= 5))
      t.changesBetween(0L, 2L)
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_rows"), sum("n_nationkey").as("sum_key"))
        .orderBy("change_type")
    },
      // the insert/delete sets derived straight from the
      // source: v0 = keys < 15, v2 = keys >= 5 — inserts are keys >= 15,
      // deletes are keys < 5
      Sql("""SELECT 'delete' AS change_type, COUNT(*) AS n_rows,
        |       SUM(n_nationkey)::BIGINT AS sum_key FROM nation WHERE n_nationkey < 5
        |UNION ALL SELECT 'insert', COUNT(*), SUM(n_nationkey)::BIGINT
        |FROM nation WHERE n_nationkey >= 15
        |ORDER BY change_type""".stripMargin)),
    Query("f11_compacted_roundtrip", (s, dir) => {
      // small-file compaction bound to the gate: orders deliberately
      // shattered into 64 small files, rewritten by Partitioning.compact
      // into 4 row-balanced ones (round-robin repartition — coalesce
      // would glue adjacent files and let skew survive), re-read and
      // aggregated; the oracle computes the same aggregate from the
      // source table, so the rewrite must be content-preserving. The
      // file-count and row-balance claims are PartitioningSpec-asserted.
      val root = exportPath("compact", dir)
      Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderpriority")
        .repartition(64).write.mode("overwrite").parquet(root + "/small")
      Partitioning.compact(s, root + "/small", root + "/compacted", targetFiles = 4)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sum_key"),
          sum("o_custkey").as("sum_cust"))
        .orderBy("o_orderpriority")
    },
      // source-table oracle: the shatter +
      // round-robin compaction rewrite must be content-preserving
      Sql("""SELECT o_orderpriority, COUNT(*) AS n, SUM(o_orderkey)::BIGINT AS sum_key,
        |  SUM(o_custkey)::BIGINT AS sum_cust
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("f9_zstd_roundtrip", (s, dir) => {
      // codec surface: the same round-trip discipline as f4, through
      // zstd-compressed parquet (the 100 TB default codec choice — zstd
      // trades ~10% CPU for ~30% smaller scans vs snappy); oracle reads
      // the uncompressed source, so the codec must be lossless end-to-end
      val out = exportPath("zstd", dir)
      Tables.lineitem(s, dir).select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite").option("compression", "zstd").parquet(out)
      s.read.parquet(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_orderkey").as("sum_key"),
          sum(dec12("l_quantity")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    },
      // source-table oracle: zstd must be lossless
      Sql("""SELECT l_returnflag, COUNT(*) AS n, SUM(l_orderkey)::BIGINT AS sum_key,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("f4_orc_roundtrip", (s, dir) => {
      // ORC sibling of f3's layout queries: export orders as ORC, re-read,
      // aggregate; the oracle computes the same aggregate straight from the
      // source parquet, proving the ORC writer+reader are
      // semantics-preserving (DuckDB has no ORC reader, so the source-table
      // oracle is the strongest independent check available).
      val out = exportPath("orc", dir)
      TableFormats.writeOrc(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"),
        out)
      TableFormats.readOrc(s, out)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sum_key"),
          sum(dec12("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
      // source-table oracle: the ORC round-trip must
      // preserve exactly what parquet holds
      Sql("""SELECT o_orderpriority, COUNT(*) AS n, SUM(o_orderkey)::BIGINT AS sum_key,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("f1_jsonl_roundtrip", (s, dir) => {
      // interchange-format surface bound to the gate: a lineitem slice is
      // exported as JSONL, re-read schema-first (FAILFAST), and aggregated;
      // the DuckDB oracle reads the SAME files with read_json_auto, so both
      // the writer and the reader are checked. Integer-exact columns only
      // (scaled-cent quantities) — no float round-trip ambiguity. The
      // output path is sf-tagged and NOT deleted at JVM exit: the oracle
      // runs after this process ends.
      val slice = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 16 === 0)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
          (dec12("l_quantity") * 100).cast("long").as("qty_c"), col("l_returnflag"))
      TableFormats.writeJsonl(slice, exportPath("jsonl", dir))
      TableFormats.readJsonl(s, exportPath("jsonl", dir),
        org.apache.spark.sql.types.StructType.fromDDL(
          "l_orderkey LONG, line_no LONG, qty_c LONG, l_returnflag STRING"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("qty_c").as("sum_qty_c"),
          sum("l_orderkey").as("sum_okey"), max("line_no").as("max_line"))
        .orderBy("l_returnflag")
    },
      Derived(in =>
        s"""SELECT l_returnflag, COUNT(*) AS n, SUM(qty_c)::BIGINT AS sum_qty_c,
           |       SUM(l_orderkey)::BIGINT AS sum_okey, MAX(line_no) AS max_line
           |FROM read_json_auto('${exportPath("jsonl", in.sfDir)}/*.json')
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("f2_csv_roundtrip", (s, dir) => {
      // CSV sibling of f1: export a customer slice with header, re-read
      // schema-first (FAILFAST), aggregate; oracle reads the same files
      // with read_csv. Integer/string columns only (doubles don't survive
      // text round-trips bit-exactly across engines).
      val slice = Tables.customer(s, dir)
        .filter(col("c_custkey") % 8 === 0)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment"))
      TableFormats.writeCsv(slice, exportPath("csv", dir))
      TableFormats.readCsv(s, exportPath("csv", dir),
        org.apache.spark.sql.types.StructType.fromDDL(
          "c_custkey LONG, nation LONG, c_mktsegment STRING"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("c_custkey").as("sum_key"), max("nation").as("max_nation"))
        .orderBy("c_mktsegment")
    },
      Derived(in =>
        s"""SELECT c_mktsegment, COUNT(*) AS n, SUM(c_custkey)::BIGINT AS sum_key,
           |       MAX(nation) AS max_nation
           |FROM read_csv('${exportPath("csv", in.sfDir)}/*.csv', header = true,
           |              columns = {'c_custkey': 'BIGINT', 'nation': 'BIGINT', 'c_mktsegment': 'VARCHAR'})
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("f3_range_layout", (s, dir) => {
      // range-partitioned + sorted-within-file parquet layout: pay one
      // range exchange at write, then date filters skip whole files/row
      // groups via parquet min/max stats (disjointness asserted in
      // PartitioningSpec); the oracle computes the same aggregate straight
      // from the source table, proving the layout is semantics-preserving
      val out = exportPath("range", dir)
      Partitioning.writeRangeSorted(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        out, sortCol = "o_orderdate", numFiles = 8)
      s.read.parquet(out)
        .filter(col("o_orderdate") >= expr("TIMESTAMP'1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP'1997-01-01 00:00:00'"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"), sum(dec12("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("month")
    },
      Sql("""SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("f7_dsv2_matrix", (s, dir) => {
      // the DataSourceV2 connector for the reference matrix format bound to
      // the gate: derive the small graph, write it as the dense text format
      // (1-based, so ids shift +1), read it back through
      // spark.read.format(MatrixSourceV2), and aggregate out-degrees. The
      // oracle computes the same degrees from the source derivation — the
      // writer, the V2 scan, and the parse are all checked.
      val path = exportPath("dsv2", dir) + ".txt"
      val edges1 = DerivedGraphs.small(s, dir)
        .select((col("src") + 1).as("src"), (col("dst") + 1).as("dst"))
      val n = 1 + DerivedGraphs.SmallMod.toInt // ids 1..SmallMod after shift
      MatrixFormat.writeMatrix(s, edges1, path, vertexCount = Some(n))
      s.read.format("graft.sources.MatrixSourceV2").load(path)
        .groupBy("src").agg(count(lit(1)).as("outdeg"), sum("dst").as("sum_dst"))
        .orderBy("src")
    },
      // same degrees from the source derivation (+1 shift)
      Sql(s"""WITH e AS (${DerivedGraphs.smallSql})
         |SELECT src + 1 AS src, COUNT(*)::BIGINT AS outdeg,
         |       SUM(dst + 1)::BIGINT AS sum_dst
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("f8_zorder_cells", (s, dir) => {
      // Z-order clustering bound to the gate: the Morton-code arithmetic
      // (ONE expression string, evaluated verbatim by both engines) plus
      // the property that makes it a layout win — grouping by a curve
      // prefix yields cells that are tight RECTANGLES in BOTH dimensions,
      // so min/max file skipping works on either filter column. The
      // physical writer (Partitioning.writeZOrdered) is asserted
      // structurally in PartitioningSpec; this query gates the code math.
      Tables.orders(s, dir)
        .select((col("o_custkey") % 1024).as("cx"), (col("o_orderkey") % 1024).as("cy"))
        .withColumn("z", expr(Partitioning.zorderExpr("cx", "cy", 10)))
        .groupBy(expr("z div 16384").as("cell")) // top 6 curve bits: 64 cells
        .agg(count(lit(1)).as("n"),
          min("cx").as("min_cx"), max("cx").as("max_cx"),
          min("cy").as("min_cy"), max("cy").as("max_cy"))
        .orderBy("cell")
    },
      // the SAME zorderExpr string evaluated by DuckDB
      Sql(s"""WITH d AS (SELECT o_custkey % 1024 AS cx, o_orderkey % 1024 AS cy FROM orders),
         |z AS (SELECT cx, cy, ${Partitioning.zorderExpr("cx", "cy", 10)} AS z FROM d)
         |SELECT z // 16384 AS cell, COUNT(*) AS n,
         |       MIN(cx) AS min_cx, MAX(cx) AS max_cx,
         |       MIN(cy) AS min_cy, MAX(cy) AS max_cy
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("f6_schema_evolution", (s, dir) => {
      // schema evolution across parquet batches (the every-real-lake
      // problem: a column added mid-history): batch 1 lacks the priority
      // column, batch 2 has it; a mergeSchema read unions the schemas and
      // null-fills the old files — by-NAME resolution, not by position.
      // The oracle derives the same union from the source table, so the
      // write, the merged read, and the null-fill are all checked.
      val root = exportPath("evolve", dir)
      Tables.orders(s, dir).filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .write.mode("overwrite").parquet(root + "/b1")
      Tables.orders(s, dir).filter(col("o_orderkey") % 4 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(root + "/b2")
      s.read.option("mergeSchema", "true").parquet(root + "/b1", root + "/b2")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sum_okey"))
        .orderBy("o_orderpriority")
    },
      // source-table union mirror of the two batches
      Sql("""WITH u AS (
        |  SELECT o_orderkey, o_custkey, NULL AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderpriority
        |  FROM orders WHERE o_orderkey % 4 = 1)
        |SELECT o_orderpriority, COUNT(*) AS n, SUM(o_orderkey)::BIGINT AS sum_okey
        |FROM u GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin)),
    Query("f5_hive_partitioned", (s, dir) => {
      // hive-partitioned layout (f3's directory-pruning sibling): orders
      // written under o_year=YYYY dirs, read back with a partition-column
      // filter that prunes at PLANNING time from the listing (asserted in
      // PartitioningSpec); oracle computes the same aggregate from the
      // source table with the same year filter
      val out = exportPath("hive", dir)
      Partitioning.writeHivePartitioned(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"), year(col("o_orderdate")).as("o_year")),
        out, partCol = "o_year")
      s.read.parquet(out)
        .filter(col("o_year") === 1996)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(dec12("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
      // source-table oracle with the same year cut
      Sql("""SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)))
}
