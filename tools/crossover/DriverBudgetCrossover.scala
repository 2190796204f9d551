package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.operators.CommitTable

/** Where `CommitTable.DriverBudget.bytes` comes from. Two cases:
  *  - `read`: times one point read of a vectors-shaped table (`vec_id`,
  *    `e` of 64 doubles, `nrm`) decoded on the driver
  *    (`CommitTable.localReadIn`) against the Spark read of the same cut
  *    (`prunedReadIn` + id semi-join + collect), and the k-NN graph walk's
  *    scoring of ~2,000 candidate pairs both ways (driver:
  *    `KnnGraph.localCosine`; Spark: `KnnGraph.cosine` + collect), as the
  *    cut's parquet bytes grow. Each table instance is fresh per timing,
  *    so the driver side pays its footer reads and reader build every
  *    time.
  *  - `consolidate`: times `KnnGraph.consolidateWithin` on the driver
  *    against the Spark dataflow (a zero byte budget) over a k-NN graph
  *    index of `n` vectors (vectors, 6 edges a vertex, 32 entries) with
  *    1% of its ids tombstoned, each timing on a fresh copy of the index.
  *  - `merge`: times `CommitTable.merge` of a 400-row change set (200
  *    updates spread over the table, 200 inserts past it; a LocalRelation,
  *    the stream sink's shape) into a vectors-shaped table of `n` rows, on
  *    the driver against the dataflow (a zero byte budget), each side on
  *    its own copy of the table, merging into its own head.
  *  - `write`: times `CommitTable.overwrite` of a LocalRelation of `n`
  *    vectors rows, written on the driver against Spark's write.
  * Prints CSV: the median of `reps` timings after the warm-ups. Run with
  * `tools/crossover/run.sh`. */
object DriverBudgetCrossover {
  def main(args: Array[String]): Unit = {
    // cores, scratch root, table sizes in rows (~512 B of parquet each),
    // files per table, timed repetitions, case
    val cores = args(0).toInt
    val root = args(1)
    val sizes = args(2).split(",").map(_.toInt)
    val files = args(3).toInt
    val reps = args(4).toInt
    val spark = GraftSession.create(s"local[$cores]", cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    args.lift(5).getOrElse("read") match {
      case "consolidate" => consolidate(spark, root, sizes, files, reps)
      case "merge" => merge(spark, root, sizes, files, reps)
      case "write" => write(spark, root, sizes, reps)
      case _ => read(spark, root, sizes, files, reps)
    }
    spark.stop()
  }

  private val dim = 64

  /** `n` vectors of `dim` deterministic doubles with their norms. */
  private def vectors(spark: SparkSession, n: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)), (i: org.apache.spark.sql.Column) =>
        sin(col("id") * 7919 + i * 104729)).as("e"))
      .withColumn("nrm", sqrt(aggregate(col("e"), lit(0.0), (a, x) => a + x * x)))

  /** The median of `reps` timings of `f` in ms, after `warm` untimed runs. */
  private def time(reps: Int, warm: Int)(f: () => Any): Double = {
    (0 until warm).foreach(_ => f())
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6 }
    ts.sorted.apply(reps / 2)
  }

  private def consolidate(spark: SparkSession, root: String, sizes: Seq[Int], files: Int,
                          reps: Int): Unit = {
    import spark.implicits._
    println("vectors,files,index_mib,vectors_mib,graph_mib,driver_ms,dataflow_ms")
    for (n <- sizes) {
      val tpl = s"$root/knng$n-$files"
      new CommitTable(spark, s"$tpl/vectors", "vec_id")
        .overwrite(vectors(spark, n).repartitionByRange(files, col("vec_id")))
      // 6 pseudo-random out-edges a vertex, scored like the build's
      new CommitTable(spark, s"$tpl/graph", "src").overwrite(spark.range(n)
        .select(col("id").as("src"), explode(sequence(lit(1), lit(6))).as("j"))
        .select(col("src"), ((col("src") * 31 + col("j") * 7919) % n).as("dst"))
        .filter(col("src") =!= col("dst"))
        .withColumn("cos", sin(col("src") * 13 + col("dst")))
        .repartitionByRange(files, col("src"), col("dst")))
      new CommitTable(spark, s"$tpl/entries", "eid")
        .overwrite((0L until 32L).map(i => i * n / 32).toDF("eid").coalesce(1))
      graft.operators.IndexManifest.commit(spark, tpl, Seq("vectors", "graph", "entries"))
      def mib(t: String) = new CommitTable(spark, s"$tpl/$t", "x").read().inputFiles
        .map(f => new java.io.File(new java.net.URI(f)).length).sum / 1048576.0
      val (vMib, gMib) = (mib("vectors"), mib("graph"))
      val dead = (0L until n.toLong by 100L).map(_ + 37L).filter(_ < n).toDF("vec_id")
      var copies = 0
      // the median of `reps` consolidations under `budget`, after one
      // warm-up, each on a fresh copy with its delete list committed
      def timed(budget: CommitTable.Budget): Double = {
        def once(): Double = {
          copies += 1
          val at = s"$root/run$copies"
          copyTree(java.nio.file.Path.of(tpl), java.nio.file.Path.of(at))
          graft.llm.KnnGraph.deleteFromKnnGraphIndex(dead, at)
          val t0 = System.nanoTime()
          graft.llm.KnnGraph.consolidateWithin(spark, at, 6, budget)
          val ms = (System.nanoTime() - t0) / 1e6
          graft.TempDirs.deleteRecursively(java.nio.file.Path.of(at))
          ms
        }
        once()
        (0 until reps).map(_ => once()).sorted.apply(reps / 2)
      }
      val (onDriver, viaSpark) = (timed(huge), timed(dataflow))
      println(f"$n,$files,${vMib + gMib}%.2f,$vMib%.2f,$gMib%.2f,$onDriver%.1f,$viaSpark%.1f")
      graft.TempDirs.deleteRecursively(java.nio.file.Path.of(tpl))
    }
  }

  private val huge = CommitTable.Budget(bytes = Long.MaxValue, rows = Long.MaxValue)
  private val dataflow = CommitTable.Budget(bytes = 0L, rows = CommitTable.DriverBudget.rows)

  /** `df`'s rows as a LocalRelation-backed frame. */
  private def local(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def mib(t: CommitTable): Double =
    t.read().inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum / 1048576.0

  private def merge(spark: SparkSession, root: String, sizes: Seq[Int], files: Int,
                    reps: Int): Unit = {
    println("rows,files,mib,merge_driver_ms,merge_dataflow_ms")
    for (n <- sizes) {
      val tpl = s"$root/m$n-$files"
      val t = new CommitTable(spark, tpl, "vec_id")
      t.overwrite(vectors(spark, n).repartitionByRange(files, col("vec_id")))
      val size = mib(t)
      val change = local(spark, vectors(spark, n + 200).filter(
        col("vec_id") % math.max(1, n / 200) === 0 || col("vec_id") >= n)
        .withColumn("nrm", col("nrm") + 1.0))
      def timed(budget: CommitTable.Budget, side: String): Double = {
        val at = s"$root/$side$n"
        copyTree(java.nio.file.Path.of(tpl), java.nio.file.Path.of(at))
        val copy = new CommitTable(spark, at, "vec_id")
        val ms = time(reps, 1)(() => copy.mergeWithin(change, Seq("vec_id"), None, budget))
        graft.TempDirs.deleteRecursively(java.nio.file.Path.of(at))
        ms
      }
      val (onDriver, viaSpark) = (timed(huge, "driver"), timed(dataflow, "dataflow"))
      println(f"$n,$files,$size%.2f,$onDriver%.1f,$viaSpark%.1f")
      graft.TempDirs.deleteRecursively(java.nio.file.Path.of(tpl))
    }
  }

  private def write(spark: SparkSession, root: String, sizes: Seq[Int], reps: Int): Unit = {
    println("rows,mib,write_driver_ms,write_spark_ms")
    for (n <- sizes) {
      val rows = local(spark, vectors(spark, n))
      val t = new CommitTable(spark, s"$root/w$n", "vec_id")
      val r = Seq(huge, dataflow).map(b => time(reps, 1)(() => t.overwriteWithin(rows, b)))
      println(f"$n,${mib(t)}%.2f,${r(0)}%.1f,${r(1)}%.1f")
      graft.TempDirs.deleteRecursively(java.nio.file.Path.of(s"$root/w$n"))
    }
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
  }

  private def read(spark: SparkSession, root: String, sizes: Seq[Int], files: Int,
                   reps: Int): Unit = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val qs = (0 until 20).map(i => (-1L - i, Array.fill(dim)(rng.nextGaussian())))
    println("rows,files,mib,read_driver_ms,read_spark_ms,score_driver_ms,score_spark_ms")
    for (n <- sizes) {
      val path = s"$root/t$n-$files"
      val t = new CommitTable(spark, path, "vec_id")
      t.overwrite(vectors(spark, n).repartitionByRange(files, col("vec_id")))
      val mib = t.read().inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum / 1048576.0
      // the walk's shape: ~2000 candidate ids spread over every file, paired with 20 queries
      val ids = (0L until n.toLong by math.max(1L, n / 2000L)).take(2000)
      val cand = ids.zipWithIndex.map { case (v, i) => (qs(i % 20)._1, v) }
      val qRows = qs.map { case (id, e) => (id, e.toSeq, math.sqrt(e.map(x => x * x).sum)) }
      val qFrame = qRows.toDF("query_id", "qe", "qn")
      def fresh() = new CommitTable(spark, path, "vec_id")
      def readDriver(): Int = fresh().localReadIn(ids, None, huge).get.rows.size
      def readSpark(): Int = {
        val df = fresh().prunedReadIn(ids)
        df.join(broadcast(ids.toDF("__p")), col("vec_id") === col("__p"), "left_semi").collect().length
      }
      val qById = qRows.map(r => r._1 -> InternalRow(r._1,
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(r._2.toArray), r._3)).toMap
      def scoreDriver(): Int = {
        val d = fresh().localReadIn(ids, None, huge).get
        val wanted = ids.toSet
        val byVec = d.rows.filter(r => wanted(r.getLong(0))).groupBy(_.getLong(0))
        val pairs = for ((q, v) <- cand; r <- byVec.getOrElse(v, Nil)) yield {
          val qr = qById(q)
          InternalRow(q, v, r.getArray(1), r.getDouble(2), qr.getArray(1), qr.getDouble(2))
        }
        val schema = StructType(Seq(StructField("query_id", LongType, false), StructField("vec_id", LongType, false),
          d.schema(1), d.schema(2), StructField("qe", ArrayType(DoubleType, false)), StructField("qn", DoubleType, false)))
        graft.llm.KnnGraph.localCosine(spark, schema)(pairs).size
      }
      def scoreSpark(): Int = {
        val df = fresh().prunedReadIn(ids)
        graft.llm.KnnGraph.cosine(cand.toDF("query_id", "vec_id")
          .join(df.join(broadcast(ids.toDF("__p")), col("vec_id") === col("__p"), "left_semi")
            .select("vec_id", "e", "nrm"), "vec_id")
          .join(broadcast(qFrame), "query_id")).collect().length
      }
      val r = Seq(readDriver _, readSpark _, scoreDriver _, scoreSpark _).map(f => time(reps, 2)(f))
      println(f"$n,$files,$mib%.2f,${r(0)}%.1f,${r(1)}%.1f,${r(2)}%.1f,${r(3)}%.1f")
      graft.TempDirs.deleteRecursively(java.nio.file.Path.of(path))
    }
  }
}
