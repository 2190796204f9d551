package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.CommitTable

/** Where `CommitTable.DriverBudget.bytes` comes from: times one point
  * read of a vectors-shaped table (`vec_id`, `e` of 64 doubles, `nrm`)
  * decoded on the driver (`CommitTable.localReadIn`) against the Spark
  * read of the same cut (`prunedReadIn` + id semi-join + collect), and
  * the k-NN graph walk's scoring of ~2,000 candidate pairs both ways
  * (driver: `KnnGraph.localCosine`; Spark: `KnnGraph.cosine` + collect),
  * as the cut's parquet bytes grow. Each table instance is fresh per
  * timing, so the driver side pays its footer reads and reader build
  * every time. Prints CSV: the median of `reps` timings after two
  * warm-ups. Run with `tools/crossover/run.sh`. */
object DriverBudgetCrossover {
  def main(args: Array[String]): Unit = {
    // cores, scratch root, table sizes in rows (~512 B of parquet each),
    // files per table, timed repetitions
    val cores = args(0).toInt
    val root = args(1)
    val sizes = args(2).split(",").map(_.toInt)
    val files = args(3).toInt
    val reps = args(4).toInt
    val spark = GraftSession.create(s"local[$cores]", cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val huge = CommitTable.Budget(bytes = Long.MaxValue, rows = Long.MaxValue)
    val dim = 64
    val rng = new scala.util.Random(7)
    val qs = (0 until 20).map(i => (-1L - i, Array.fill(dim)(rng.nextGaussian())))
    println("rows,files,mib,read_driver_ms,read_spark_ms,score_driver_ms,score_spark_ms")
    for (n <- sizes) {
      val path = s"$root/t$n-$files"
      val t = new CommitTable(spark, path, "vec_id")
      val base = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dim)), (i: org.apache.spark.sql.Column) =>
          sin(col("id") * 7919 + i * 104729)).as("e"))
        .withColumn("nrm", sqrt(aggregate(col("e"), lit(0.0), (a, x) => a + x * x)))
      t.overwrite(base.repartitionByRange(files, col("vec_id")))
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
      def time(f: () => Int): Double = {
        f(); f()
        val ts = (0 until reps).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6 }
        ts.sorted.apply(reps / 2)
      }
      val r = Seq(readDriver _, readSpark _, scoreDriver _, scoreSpark _).map(f => time(f))
      println(f"$n,$files,$mib%.2f,${r(0)}%.1f,${r(1)}%.1f,${r(2)}%.1f,${r(3)}%.1f")
      graft.TempDirs.deleteRecursively(java.nio.file.Path.of(path))
    }
    spark.stop()
  }
}
