package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload against a fresh local session and writes the raw
  * record (operations, spans, job counters, workload values) as JSON.
  * `perfbench/run.py` generates the inputs, starts this, and turns the
  * record into metrics.
  *
  * Arguments: `--workload W --inputs DIR --work DIR --seconds S --trace 0|1
  * --cores N --out FILE`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create(s"local[$cores]", cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(spark, opt("trace") == "1")
    rec.values("session_s") = sessionS
    rec.values("cores") = cores
    val ctx = Ctx(spark, rec, Paths.get(opt("inputs")), Paths.get(opt("work")),
      opt("seconds").toDouble * 1000.0)
    try {
      opt("workload") match {
        case "graph-analytics" => GraphWorkload.run(ctx)
        case "index-churn" => IndexWorkload.run(ctx)
        case "stream-ingest" => StreamWorkload.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      rec.mark("done")
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      Files.writeString(Paths.get(opt("out")), json.writeValueAsString(rec.toJson))
    } finally spark.stop()
  }
}

final case class Ctx(spark: SparkSession, rec: Recorder, inputs: java.nio.file.Path,
                     work: java.nio.file.Path, windowMs: Double) {
  def lines(name: String): Seq[String] =
    Files.readAllLines(inputs.resolve(name)).asScala.toSeq.filter(_.nonEmpty)

  def params(name: String): Map[String, String] =
    lines(name).map(_.split("\t")).map(a => a(0) -> a(1)).toMap

  /** Median of `reps` timed runs of `body` (seconds); returns the last result. */
  def timedReps[T](reps: Int)(body: Int => T): (Double, T) = {
    var last: Option[T] = None
    val ts = (0 until reps).map { i =>
      val s = System.nanoTime()
      last = Some(body(i))
      (System.nanoTime() - s) / 1e9
    }
    rec.mark("setup")
    (ts.sorted.apply(reps / 2), last.get)
  }

  /** Full-GC live heap and GC time per second over the window, into the record. */
  def finishWindow(gcAtStart: Long, windowStart: Double): Unit = {
    rec.mark("window")
    val elapsed = rec.now - windowStart
    rec.values("gc_ms_per_s") = (rec.gcMs - gcAtStart) / (elapsed / 1000.0)
    rec.values("driver_live_heap_mb") = rec.liveHeapMb()
    rec.mark("heap")
  }
}
