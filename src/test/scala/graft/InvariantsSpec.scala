package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{CommitTable, InvariantViolationException, TableInvariants}

/** Schema-on-write + table-declared invariants (f26, r15 verdict Next #3):
  * one declaration, every writer enforces — a drifted producer or a
  * violating batch is rejected with head and history untouched, and
  * schema evolution becomes an explicit `mergeSchema` opt-in.
  */
class InvariantsSpec extends SparkSpec {

  private def kv(pairs: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    pairs.toDF("k", "v")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def dataDirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("d")).map(_.getName).toSet

  test("a commit under declared row rules audits its staged files with no schema job") {
    val t = new CommitTable(spark, Files.createTempDirectory("graft-inv-jobs").toString, "k")
    t.overwrite(kv(1L -> 10L))
    t.setInvariants("k BIGINT, v BIGINT", checks = Seq("v_pos" -> "v > 0"), notNull = Seq("k"))
    def jobsOf(body: => Any): Int = {
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
    val rules = Seq(graft.operators.Validation.RowRule("not_null_k", col("k").isNotNull),
      graft.operators.Validation.RowRule("check_v_pos", expr("v > 0")))
    val audit = jobsOf(graft.operators.Validation.rowChecks(t.read(), rules).collect())
    // the batch is a LocalRelation, written on the driver, and the staged
    // files' read is planned from their footers: the append's only jobs
    // are the rule aggregate's
    val append = jobsOf(t.append(kv(2L -> 20L)))
    assert(append <= audit, s"an audited append ran $append jobs; the rule aggregate runs $audit")
    assert(rows(t.read()) === Set(1L -> 10L, 2L -> 20L))
  }

  test("declared invariants: clean append commits; violating batch aborts with head, history, and disk untouched") {
    val dir = Files.createTempDirectory("graft-inv-gate").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> 10L, 2L -> 20L))
    val vDecl = t.setInvariants("k BIGINT, v BIGINT",
      checks = Seq("v_pos" -> "v > 0"), notNull = Seq("k", "v"))
    assert(vDecl === 1L)
    assert(t.invariants() === Some(TableInvariants(
      "k BIGINT,v BIGINT", Seq("v_pos" -> "v > 0"), Seq("k", "v"))))

    val v2 = t.append(kv(3L -> 30L))
    assert(v2 === 2L)
    val before = dataDirs(dir)

    // CHECK violation: one bad row poisons the whole batch — atomically
    val e1 = intercept[InvariantViolationException](
      t.append(kv(4L -> 40L, 5L -> -5L)))
    assert(e1.report.exists { case (n, c) => n == "check_v_pos" && c == 1L })

    // NOT NULL violation (null v)
    val s = spark
    import s.implicits._
    val withNull = Seq((6L, Some(60L)), (7L, None)).toDF("k", "v")
      .select(col("k"), col("v").cast("long"))
    val e2 = intercept[InvariantViolationException](t.append(withNull))
    assert(e2.report.exists { case (n, c) => n == "not_null_v" && c == 1L })

    // head, versions, and staged disk all untouched by the two aborts
    assert(t.latestVersion() === Some(2L))
    assert(rows(t.read()) === Set(1L -> 10L, 2L -> 20L, 3L -> 30L))
    assert(dataDirs(dir) === before, "aborted batches must leave no staged directories")
  }

  test("schema-on-write: undeclared columns, type drift, and missing NOT NULL reject BEFORE staging; mergeSchema widens explicitly") {
    val dir = Files.createTempDirectory("graft-inv-schema").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> 10L))
    t.setInvariants("k BIGINT, v BIGINT", notNull = Seq("k"))
    val before = dataDirs(dir)

    // undeclared column — the one-mistyped-producer case
    val e1 = intercept[InvariantViolationException](
      t.append(kv(2L -> 20L).withColumn("extra", lit("x"))))
    assert(e1.report === Seq(("undeclared_column_extra", 1L)))

    // type drift on a declared column
    val e2 = intercept[InvariantViolationException](
      t.append(kv(3L -> 30L).withColumn("v", col("v").cast("int"))))
    assert(e2.report === Seq(("type_drift_v", 1L)))

    // NOT NULL column absent from the batch
    val e3 = intercept[InvariantViolationException](t.append(kv(4L -> 40L).drop("k")))
    assert(e3.report === Seq(("missing_not_null_k", 1L)))

    assert(dataDirs(dir) === before,
      "schema-on-write rejections happen before any data is staged")

    // the same new column lands when the writer OPTS INTO evolution —
    // and the declaration widens, so a later strict append may carry it
    t.append(kv(5L -> 50L).withColumn("extra", lit(7L)), mergeSchema = true)
    assert(t.invariants().get.schemaDdl === "k BIGINT,v BIGINT,extra BIGINT")
    t.append(kv(6L -> 60L).withColumn("extra", lit(8L)))
    assert(t.read().filter(col("extra").isNotNull).count() === 2L)
  }

  test("setInvariants validates existing content (ADD CONSTRAINT scan); rejected declarations leave no commit") {
    val dir = Files.createTempDirectory("graft-inv-existing").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> 10L, 2L -> -20L))
    val e = intercept[InvariantViolationException](
      t.setInvariants("k BIGINT, v BIGINT", checks = Seq("v_pos" -> "v > 0")))
    assert(e.report.exists { case (n, c) => n == "check_v_pos" && c == 1L })
    assert(t.latestVersion() === Some(0L), "a rejected declaration commits nothing")
    assert(t.invariants() === None)
    // the same declaration with validation opted out lands (caller owns it)
    t.setInvariants("k BIGINT, v BIGINT", checks = Seq("v_pos" -> "v > 0"),
      validateExisting = false)
    assert(t.invariants().isDefined)
  }

  test("the declaration carries through appends, DML, compaction, and restore; pre-declaration versions read unchanged") {
    val dir = Files.createTempDirectory("graft-inv-carry").toString
    val t = new CommitTable(spark, dir, "k", checkpointEvery = 3)
    t.overwrite(kv(1L -> 10L, 5L -> 50L))                        // v0
    t.setInvariants("k BIGINT, v BIGINT", checks = Seq("v_pos" -> "v > 0")) // v1
    t.append(kv(7L -> 70L))                                      // v2
    t.deleteRange(5L, 5L)                                        // v3 (ckpt)
    t.compact(1)                                                 // v4
    t.updateRange(7L, 7L, "v", "v + 1")                          // v5
    t.restore(2L)                                                // v6 (ckpt)
    assert(t.invariants() ===
      Some(TableInvariants("k BIGINT,v BIGINT", Seq("v_pos" -> "v > 0"), Nil)))
    // an update that would break the rule in the rewritten files aborts
    intercept[InvariantViolationException](t.updateRange(1L, 1L, "v", "-v"))
    assert(rows(t.read()) === Set(1L -> 10L, 5L -> 50L, 7L -> 70L))
    // pre-declaration version is still plainly readable
    assert(rows(t.asOf(0L)) === Set(1L -> 10L, 5L -> 50L))
    // metadata-only declaration commit: v1 content identical to v0
    assert(rows(t.asOf(1L)) === rows(t.asOf(0L)))
    // history records the declaration as a first-class operation
    val ops = t.history().collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(ops(1L) === "set-invariants")
  }

  test("merge enforces the declaration on the merged result") {
    val dir = Files.createTempDirectory("graft-inv-merge").toString
    val t = new CommitTable(spark, dir, "k")
    t.overwrite(kv(1L -> 10L, 2L -> 20L))
    t.setInvariants("k BIGINT, v BIGINT", checks = Seq("v_pos" -> "v > 0"))
    intercept[InvariantViolationException](t.merge(kv(2L -> -2L), Seq("k")))
    assert(rows(t.read()) === Set(1L -> 10L, 2L -> 20L))
    t.merge(kv(2L -> 200L), Seq("k"))
    assert(rows(t.read()) === Set(1L -> 10L, 2L -> 200L))
  }
}
