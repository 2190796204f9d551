package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.operators.CommitTable
import graft.streaming.EventStreams
import graft.streaming.EventStreams.UserEvent

/** stream-ingest: open loop, one generator thread. Pre-generated event
  * files land in a watched directory on a fixed schedule; one long-running
  * query sessionizes them (`EventStreams.sessionizeStateful`, RocksDB state
  * store) and its `foreachBatch` sink merges per-user event totals into a
  * `CommitTable`. Each file's lag runs from its scheduled landing time to
  * the end of the micro-batch that committed it. At the end a far-future
  * sentinel event closes every session, and the table's totals must equal
  * a driver-side count of the landed events. */
object StreamWorkload {
  val WarmFiles = 2
  val SentinelUser = 0L

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spark = ctx.spark
    val intervalMs = params("stream.tsv")("interval_ms").toDouble
    val files = {
      val s = Files.list(inputs.resolve("events"))
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    }
    val progress = new Progress
    spark.streams.addListener(progress)

    var live: Option[Run] = None
    val (startS, run) = timedReps(3) { i =>
      live.foreach(_.query.stop())
      val r = new Run(spark, rec, work.resolve(s"stream-$i"))
      live = Some(r)
      files.take(WarmFiles).foreach(r.land)
      r.query.processAllAvailable()
      r
    }
    rec.ops.clear()
    rec.values("setup_parts_s") = Map("start" -> startS)
    rec.values("setup_in_jvm_s") = startS
    progress.keepOnly(run.query.id.toString)

    // open loop: the generator lands files on schedule whatever the query does
    val gc0 = rec.gcMs
    val w0 = rec.now
    val count = math.ceil(windowMs / intervalMs).toInt
    require(files.size >= WarmFiles + count, s"need ${WarmFiles + count} event files, have ${files.size}")
    val scheduled = files.slice(WarmFiles, WarmFiles + count).zipWithIndex
      .map { case (f, j) => (f, w0 + j * intervalMs) }
    val landed = mutable.ArrayBuffer.empty[Map[String, Any]]
    val generator = new Thread(() => scheduled.foreach { case (f, due) =>
      val wait = due - rec.now
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      run.land(f)
      landed.synchronized {
        landed += Map("file" -> f.getFileName.toString, "due" -> due, "landed" -> rec.now)
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    run.query.processAllAvailable()
    val windowEnd = rec.now
    finishWindow(gc0, w0)

    // close every open session, then check the totals
    run.landSentinel(files.take(WarmFiles + scheduled.size))
    val expected = files.take(WarmFiles + scheduled.size).flatMap(Files.readAllLines(_).asScala)
      .filter(_.nonEmpty).map(_.split(",")(0).toLong).groupBy(identity).map { case (u, xs) => u -> xs.size.toLong }
    val totals = run.awaitTotals(expected.values.sum, timeoutMs = 60000)
    run.query.stop()
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

    val wrongUsers = (expected.keySet ++ totals.keySet).filter(u => expected.get(u) != totals.get(u))
    // a file is committed by the first query batch whose end offset
    // reaches the file's batch in the source log
    val logBatch = run.sourceLogBatches()
    val reached = progress.rows.map(r => (r("batch").asInstanceOf[Long],
      LogOffset.findFirstMatchIn(r("end_offset").toString).map(_.group(1).toLong).getOrElse(-1L)))
    rec.values("files") = landed.toSeq.map { m =>
      val name = m("file").toString
      val users = Files.readAllLines(inputs.resolve("events").resolve(name)).asScala
        .filter(_.nonEmpty).map(_.split(",")(0).toLong)
      val batch = logBatch.get(name).flatMap(k => reached.filter(_._2 >= k).map(_._1).minOption)
      m ++ Map("batch" -> batch.getOrElse(-1L), "events" -> users.size,
        "wrong_users" -> users.toSet.count(wrongUsers))
    }
    rec.values("wrong_users") = wrongUsers.size
    rec.values("batch_end") = run.batchEnd.toMap.map { case (b, t) => b.toString -> t }
    rec.values("progress") = progress.rows
    rec.values("interval_ms") = intervalMs
    rec.values("window_end") = windowEnd
  }

  private val LogOffset = """"logOffset"\s*:\s*(\d+)""".r

  /** One query with its own landing directory, checkpoint and totals table. */
  final class Run(spark: SparkSession, rec: Recorder, dir: Path) {
    import spark.implicits._
    private val landing = Files.createDirectories(dir.resolve("landing"))
    private val staging = Files.createDirectories(dir.resolve("staging"))
    private val checkpoint = dir.resolve("checkpoint")
    val table = new CommitTable(spark, dir.resolve("totals").toString, "user_id")
    // seeded with the sentinel user's row: an empty commit has no schema to read
    table.overwrite(Seq((SentinelUser, 0L, 0L)).toDF("user_id", "n_events", "last_ts_us"))
    val batchEnd = mutable.HashMap.empty[Long, Double]

    val query: StreamingQuery = {
      val events = spark.readStream.schema("user_id LONG, ts_us LONG, event_type STRING")
        .csv(landing.toString)
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("event_type"))
        .as[UserEvent]
      EventStreams.sessionizeStateful(events).toDF().writeStream
        .option("checkpointLocation", checkpoint.toString)
        .foreachBatch((sessions: Dataset[Row], batchId: Long) => sink(sessions.toDF(), batchId))
        .start()
    }

    private def sink(sessions: DataFrame, batchId: Long): Unit = {
      rec.op("batch", traced = batchId % 2 == 0) { o =>
        o.extra("batch_id") = batchId
        val delta = rec.span("stream.sessions") {
          sessions.groupBy("user_id")
            .agg(sum("n").cast("long").as("n"), max("session_end_us").as("last"))
            .as[(Long, Long, Long)].collect()
        }
        o.extra("sink_commits") = 0
        if (delta.nonEmpty) {
          val m0 = System.nanoTime()
          rec.span("stream.sink_merge") {
            val changes = delta.toSeq.toDF("user_id", "n", "last").as("d")
              .join(table.read().as("t"), Seq("user_id"), "left_outer")
              .select(col("user_id"),
                (col("d.n") + coalesce(col("t.n_events"), lit(0L))).as("n_events"),
                greatest(col("d.last"), coalesce(col("t.last_ts_us"), lit(Long.MinValue))).as("last_ts_us"))
            table.merge(changes, Seq("user_id"))
          }
          o.extra("sink_merge_ms") = (System.nanoTime() - m0) / 1e6
          o.extra("sink_commits") = 1
        }
      }
      batchEnd.synchronized(batchEnd(batchId) = rec.now)
    }

    /** Atomically moves a copy of `f` into the watched directory. */
    def land(f: Path): Unit = {
      val tmp = staging.resolve(f.getFileName)
      Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, landing.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }

    /** Lands one event a day past every landed file, so the watermark
      * passes every open session's deadline and all sessions flush. */
    def landSentinel(landedFiles: Seq[Path]): Unit = {
      val lastTs = landedFiles.flatMap(Files.readAllLines(_).asScala).filter(_.nonEmpty)
        .map(_.split(",")(1).toLong).max
      val tmp = staging.resolve("sentinel.csv")
      Files.writeString(tmp, s"$SentinelUser,${lastTs + 86400L * 1000000L},view\n")
      Files.move(tmp, landing.resolve("sentinel.csv"), StandardCopyOption.ATOMIC_MOVE)
    }

    /** Waits until the table holds `total` events (sentinel excluded). */
    def awaitTotals(total: Long, timeoutMs: Long): Map[Long, Long] = {
      val deadline = System.currentTimeMillis() + timeoutMs
      def read() = table.read().filter(col("user_id") =!= SentinelUser)
        .select("user_id", "n_events").as[(Long, Long)].collect().toMap
      query.processAllAvailable()
      var got = read()
      while (got.values.sum != total && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        got = read()
      }
      got
    }

    /** File name -> batch id in the file source's own log (one JSON
      * entry per file; compacted log files repeat earlier entries). */
    def sourceLogBatches(): Map[String, Long] = {
      val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
      val s = Files.list(checkpoint.resolve("sources").resolve("0"))
      val lines = try s.iterator().asScala.toSeq.filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
        .flatMap(p => Files.readAllLines(p).asScala) finally s.close()
      lines.flatMap(l => entry.findFirstMatchIn(l))
        .map(m => m.group(1).split("/").last -> m.group(2).toLong).toMap
    }
  }

  /** Per-batch progress of the measured query, from a query listener. */
  final class Progress extends StreamingQueryListener {
    private val all = mutable.ArrayBuffer.empty[(String, Map[String, Any])]
    private var keep: Option[String] = None
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators.headOption
      all += p.id.toString -> Map(
        "batch" -> p.batchId, "input_rows" -> p.numInputRows,
        "end_offset" -> p.sources.headOption.map(_.endOffset).getOrElse(""),
        "duration_ms" -> d,
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L))
    }
    def keepOnly(queryId: String): Unit = synchronized { keep = Some(queryId) }
    def rows: Seq[Map[String, Any]] = synchronized(all.toSeq.filter(r => keep.contains(r._1)).map(_._2))
  }
}
