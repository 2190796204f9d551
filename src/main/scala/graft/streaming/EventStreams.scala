package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured-Streaming surface over the `events` table — the streaming
  * analogue of the reference's request loop (SURVEY §7 step 8; the reference
  * itself has no streaming, `loadBalancer.c` is a blocking msgq poll).
  *
  * Every transform here is expressed once and runs in BOTH batch and
  * streaming mode (same DataFrame code path — Spark's unified model), which
  * is how the driver's batch oracle can check streaming semantics: the
  * declared queries run the batch plan; `StreamingSpec` replays the same
  * rows through a MemoryStream with watermarks and asserts the outputs
  * agree.
  *
  * Scale notes: tumbling/sliding aggregations are partial-aggregated before
  * the shuffle (hash agg per partition, merge after); session windows and
  * the custom stateful op keep per-key state bounded and expire it on
  * watermark/timeout, so state size tracks active keys, not history.
  */
object EventStreams {

  /** Normalized event projection: micros-since-epoch `ts_us` plus the JSON
    * payload int `k` — integer-exact columns the oracles can match.
    */
  def normalized(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("user_id"), col("event_type"), col("ts"),
      unix_micros(col("ts")).as("ts_us"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** Tumbling-window counts per event_type:
    * `(window_start_us, event_type, n, sum_k)`. Batch and streaming. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
                     withWatermarkCol: Boolean = false): DataFrame = {
    val base = normalized(events)
    val src = if (withWatermarkCol) base.withWatermark("ts", "2 hours") else base
    src.groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("event_type"),
        col("n"), col("sum_k"))
  }

  def tumblingCountsSql(widthSql: String = "1 hour"): String =
    s"""SELECT epoch_us(time_bucket(INTERVAL '$widthSql', ts)) AS window_start_us, event_type,
       |       COUNT(*) AS n, SUM((props ->> 'k')::BIGINT)::BIGINT AS sum_k
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Sliding-window event counts (width/slide), per event_type. */
  def slidingCounts(events: DataFrame, width: String = "1 hour", slide: String = "30 minutes"): DataFrame =
    normalized(events)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("event_type"), col("n"))

  /** Sliding windows = union of per-slide tumbling assignments; DuckDB
    * mirror enumerates the (width/slide) offsets explicitly.
    */
  def slidingCountsSql(widthUs: Long = 3600000000L, slideUs: Long = 1800000000L): String = {
    val n = (widthUs / slideUs).toInt
    s"""SELECT window_start_us, event_type, COUNT(*) AS n
       |FROM (SELECT (epoch_us(ts) - epoch_us(ts) % $slideUs) - u.i * $slideUs AS window_start_us,
       |             event_type, epoch_us(ts) AS e
       |      FROM events, UNNEST(range(0, $n)) AS u(i))
       |WHERE e >= window_start_us AND e < window_start_us + $widthUs
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Gap-based session windows per user (Spark `session_window`):
    * `(user_id, session_start_us, n)`. Batch and streaming (streaming needs
    * the watermark).
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    withWatermarkCol: Boolean = false): DataFrame = {
    val base = normalized(events)
    val src = if (withWatermarkCol) base.withWatermark("ts", "2 hours") else base
    src.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"), col("n"))
  }

  /** DuckDB mirror: classic lag/flag/cumsum sessionization — a new session
    * starts when the gap from the previous event is ≥ `gapUs` (Spark's
    * session_window is [start, last + gap) — the end bound is EXCLUSIVE, so
    * an event exactly `gap` after the previous one opens a new session).
    */
  def sessionCountsSql(gapUs: Long = 1800000000L): String =
    s"""WITH o AS (SELECT user_id, epoch_us(ts) AS e,
       |                  CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) >= $gapUs
       |                       THEN 1 ELSE 0 END AS brk
       |           FROM events),
       |s AS (SELECT user_id, e, SUM(brk) OVER (PARTITION BY user_id ORDER BY e) AS sid FROM o)
       |SELECT user_id, MIN(e) AS session_start_us, COUNT(*) AS n
       |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin

  /** Stream-stream inner join: clicks within 1 h after a view by the same
    * user — `(view_id, click_id, user_id)`. Works identically in batch;
    * under `readStream` the two watermarks plus the time-range condition
    * bound each side's join state (rows older than watermark + range are
    * evicted), which is what makes an unbounded two-stream join feasible —
    * the batch analogue is the bucketed range join `e7_range_pairs`.
    */
  def viewClickJoin(views: DataFrame, clicks: DataFrame,
                    withWatermarks: Boolean = false): DataFrame = {
    val v0 = normalized(views).filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))
    val c0 = normalized(clicks).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val (v, c) =
      if (withWatermarks) (v0.withWatermark("v_ts", "2 hours"), c0.withWatermark("c_ts", "2 hours"))
      else (v0, c0)
    v.join(c, col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("view_id"), col("click_id"), col("v_user").as("user_id"))
  }

  /** DuckDB mirror of [[viewClickJoin]]'s batch semantics: the plain
    * time-bounded join (micros arithmetic — Spark's `INTERVAL 1 HOUR`
    * timestamp add is exact micros).
    */
  def viewClickJoinSql(windowUs: Long = 3600000000L): String =
    s"""SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id
       |FROM (SELECT * FROM events WHERE event_type = 'view') v
       |JOIN (SELECT * FROM events WHERE event_type = 'click') c
       |  ON v.user_id = c.user_id AND epoch_us(c.ts) >= epoch_us(v.ts)
       | AND epoch_us(c.ts) - epoch_us(v.ts) <= $windowUs
       |ORDER BY view_id, click_id""".stripMargin

  /** Stream-static enrichment join — the third join mode next to
    * stream-stream (st5/st6) and static-static: purchases enriched against
    * a STATIC dimension. The static side carries no watermark and no join
    * state; it is broadcast and re-resolved per micro-batch, so an
    * unbounded stream joins map-side forever with zero state growth — the
    * canonical "stamp each event with its user/product attributes" shape.
    * Identical semantics in batch (the driver's gate, `st8`); the
    * per-micro-batch streaming half is asserted in StreamingSpec over a
    * MemoryStream feed. `(user_id, event_id, <dim columns>)`.
    */
  def enrichPurchases(events: DataFrame, dim: DataFrame): DataFrame =
    normalized(events).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"))
      .join(broadcast(dim), Seq("user_id"))

  /** DuckDB mirror of [[enrichPurchases]]'s batch semantics over the
    * customer-derived segment dimension the gate uses.
    */
  def enrichPurchasesSql(): String =
    """SELECT e.user_id, e.event_id, c.c_mktsegment AS segment
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |WHERE e.event_type = 'purchase' ORDER BY e.event_id""".stripMargin

  /** LEFT OUTER stream-stream join: like [[viewClickJoin]], but views with
    * NO click inside the window still emit, with a null `click_id` — the
    * "which impressions never converted" question, answerable on an
    * unbounded stream only because watermarks bound how long a view may
    * wait: once the combined watermark passes `v_ts + window`, Spark knows
    * no matching click can still arrive, emits the null-padded row, and
    * frees the state. Batch mode is a plain left outer join (the driver's
    * gate, `st6`); the watermark-deferred null emission is asserted against
    * split MemoryStream feeds in StreamingSpec.
    */
  def viewClickLeftJoin(views: DataFrame, clicks: DataFrame,
                        withWatermarks: Boolean = false): DataFrame = {
    val v0 = normalized(views).filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))
    val c0 = normalized(clicks).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val (v, c) =
      if (withWatermarks) (v0.withWatermark("v_ts", "2 hours"), c0.withWatermark("c_ts", "2 hours"))
      else (v0, c0)
    v.join(c, col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"), "left_outer")
      .select(col("view_id"), col("click_id"), col("v_user").as("user_id"))
  }

  def viewClickLeftJoinSql(windowUs: Long = 3600000000L): String =
    s"""SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id
       |FROM (SELECT * FROM events WHERE event_type = 'view') v
       |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
       |  ON v.user_id = c.user_id AND epoch_us(c.ts) >= epoch_us(v.ts)
       | AND epoch_us(c.ts) - epoch_us(v.ts) <= $windowUs
       |ORDER BY view_id, click_id NULLS FIRST""".stripMargin

  /** FULL OUTER stream-stream join — the last of the four outer-join modes
    * over unbounded sides (st5 inner, st6 left): unmatched VIEWS emit with
    * a null click AND unmatched CLICKS emit with a null view — impressions
    * that never converted and conversions with no attributable impression,
    * in one operator. Streamable for the same reason as st6, on both sides
    * at once: each side's watermark bounds how long the OTHER side's rows
    * must be retained; when the combined watermark passes a row's join
    * horizon its null-padded row emits and its state frees. Spark requires
    * watermarks on both inputs for this mode (left outer needs only the
    * preserved side's). Batch mode is a plain full outer join (the
    * driver's gate, `st13`); the deferred two-sided null emission is
    * asserted over split MemoryStream feeds in StreamingSpec.
    *
    * Both ids are nullable in the output, so the user key is taken from
    * whichever side matched (`coalesce`).
    */
  def viewClickFullJoin(views: DataFrame, clicks: DataFrame,
                        withWatermarks: Boolean = false): DataFrame = {
    val v0 = normalized(views).filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))
    val c0 = normalized(clicks).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val (v, c) =
      if (withWatermarks) (v0.withWatermark("v_ts", "2 hours"), c0.withWatermark("c_ts", "2 hours"))
      else (v0, c0)
    v.join(c, col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"), "full_outer")
      .select(col("view_id"), col("click_id"),
        coalesce(col("v_user"), col("c_user")).as("user_id"))
  }

  def viewClickFullJoinSql(windowUs: Long = 3600000000L): String =
    s"""SELECT v.event_id AS view_id, c.event_id AS click_id,
       |       COALESCE(v.user_id, c.user_id) AS user_id
       |FROM (SELECT * FROM events WHERE event_type = 'view') v
       |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
       |  ON v.user_id = c.user_id AND epoch_us(c.ts) >= epoch_us(v.ts)
       | AND epoch_us(c.ts) - epoch_us(v.ts) <= $windowUs
       |ORDER BY view_id NULLS LAST, click_id NULLS FIRST""".stripMargin

  /** DuckDB mirror of [[runningUserCounts]]' final state on a batch input:
    * per-user event count plus the event type of the maximal
    * `(epoch micros, event_type)` — exactly the fold order the stateful
    * operator applies.
    */
  def runningUserCountsSql(): String =
    """WITH o AS (SELECT user_id, event_type,
      |                 row_number() OVER (PARTITION BY user_id
      |                                    ORDER BY epoch_us(ts) DESC, event_type DESC) AS rn,
      |                 COUNT(*) OVER (PARTITION BY user_id) AS n
      |          FROM events)
      |SELECT user_id, n::BIGINT AS n_events, event_type AS last_type
      |FROM o WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---- custom stateful operator: per-user running counter with timeout ----

  final case class UserEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class UserRunning(user_id: Long, n_events: Long, last_type: String)

  /** Full-precision epoch micros of a Timestamp — `getTime` alone is millis,
    * which would make the within-group fold order (and so `last_type`)
    * nondeterministic for events inside the same millisecond; the events
    * table is micros-precision.
    */
  private def tsMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  /** State for [[runningUserCountsBounded]]: the running aggregate plus the
    * max event time ever seen for the key — the timeout deadline must be
    * computed from this, not from the current batch alone, or a late-but-
    * accepted older event would move the eviction deadline BACKWARD.
    */
  final case class BoundedState(running: UserRunning, max_ts: Long)

  final case class CepEvent(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  final case class CepState(user_id: Long, stage: Int, n_events: Long, n_matches: Long)

  /** STREAMING CEP — e34's greedy skip-till-next-match automaton
    * ([[graft.operators.Sessionization.eventPatternCounts]]) carried as
    * `mapGroupsWithState` custom state, which is where pattern matching
    * over unbounded streams actually lives (Flink CEP's home turf): per
    * key the state is just `(stage, n_events, n_matches)` — the automaton
    * register, not the event history — so state size is O(keys), never
    * O(events). Within each micro-batch the group's rows sort by
    * `(ts_us, event_id)` and fold from the carried stage; the feed
    * contract is the split-ordered-feed discipline every order-dependent
    * stateful op here uses (each micro-batch wholly follows the previous
    * in event order — st12's sessionization contract), and under that
    * contract the accumulated result is EXACTLY the batch automaton's.
    *
    * Runs in BOTH modes (the st4 discipline): on a batch Dataset each
    * group folds once from empty state — which is how the
    * `st20_stream_cep` gate binds this exact code path to e34's
    * independent sequential-automaton oracle; the genuine cross-batch
    * increment is asserted over split MemoryStream feeds in
    * StreamingSpec.
    */
  def streamingPatternCounts(events: Dataset[CepEvent],
                             pattern: Seq[String] = Seq("view", "click", "purchase")): Dataset[CepState] = {
    require(pattern.nonEmpty, "streamingPatternCounts: pattern must be non-empty")
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[CepState, CepState](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[CepEvent], state: GroupState[CepState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val prev = state.getOption.getOrElse(CepState(uid, 0, 0L, 0L))
          var stage = prev.stage
          var cnt = prev.n_matches
          sorted.foreach { e =>
            if (e.event_type == pattern(stage)) {
              stage += 1
              if (stage == pattern.length) { cnt += 1; stage = 0 }
            }
          }
          val next = CepState(uid, stage, prev.n_events + sorted.size, cnt)
          state.update(next)
          next
      }
  }

  /** `mapGroupsWithState` running per-user aggregate — the custom-state
    * escape hatch for logic windowed aggs can't express. State is one small
    * case class per active user. A production deployment bounds state growth
    * with `GroupStateTimeout.EventTimeTimeout` + a watermark (idle keys
    * expire); kept timeout-free here so the operator's semantics stay
    * trigger-independent.
    *
    * Runs in BOTH modes (Spark's unified model): under `readStream` it is
    * incremental per micro-batch; on a batch Dataset each group is folded
    * once from empty state — which is how the `st4_running_counts` declared
    * query binds this exact code path to the driver's DuckDB oracle (final
    * state ≡ per-user count + event-type of the max `(ts, event_type)`).
    */
  def runningUserCounts(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val sorted = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_type))
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, ""))
          val next = sorted.foldLeft(prev)((acc, e) => UserRunning(uid, acc.n_events + 1, e.event_type))
          state.update(next)
          next
      }
  }

  /** [[runningUserCounts]] on the `transformWithState` API (Spark 4.x's
    * successor to `mapGroupsWithState`): typed `ValueState` obtained from
    * the processor handle at init, explicit `TimeMode`/`TTLConfig`, and a
    * composable `StatefulProcessor` object instead of a closure. Same fold
    * semantics as st4, so the same DuckDB oracle gates this code path
    * (`st10_tws_counts`); the per-micro-batch increment (which requires the
    * RocksDB state store provider) is asserted in StreamingSpec.
    */
  private class RunningCountsProcessor
      extends StatefulProcessor[Long, UserEvent, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning]("running",
        Encoders.product[UserRunning], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timers: TimerValues): Iterator[UserRunning] = {
      val sorted = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_type))
      val prev = if (state.exists()) state.get() else UserRunning(key, 0L, "")
      val next = sorted.foldLeft(prev)((acc, e) =>
        UserRunning(key, acc.n_events + 1, e.event_type))
      state.update(next)
      Iterator.single(next)
    }
  }

  /** See [[RunningCountsProcessor]]. Batch mode folds each group once from
    * absent state — the unified-model contract the gate checks, same as st4.
    */
  def runningUserCountsTws(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    // BATCH transformWithState still loads a state store per task, and the
    // executors resolve the driver's StateStoreCoordinator RPC endpoint —
    // which only a STREAMING query start normally creates. In a fresh
    // session a batch-first run would die with RpcEndpointNotFound, so
    // materialize the coordinator up front (private[sql] → graftbridge).
    org.apache.spark.sql.graftbridge.Bridge.ensureStateStoreCoordinator(spark)
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** One emitted row per CLOSED session for [[sessionizeStateful]]. */
  final case class SessionOut(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n: Long)
  /** State for [[sessionizeStateful]]: the key's currently-open session. */
  final case class OpenSession(start_us: Long, last_us: Long, n: Long)

  /** Append-mode custom-state sessionization: emits one row per COMPLETED
    * session `(user_id, session_start_us, session_end_us, n)` — nothing is
    * emitted while a session is still open. The third stateful output
    * contract next to st4's always-emit (`mapGroupsWithState`) and st7's
    * Update-mode stream: Append + `EventTimeTimeout`, the shape a
    * downstream append-only sink (parquet, Kafka) requires, where a row
    * must be final the moment it is written.
    *
    * Session semantics match `session_window` (st3): a gap ≥ `gapUs`
    * closes the session (end bound exclusive). Under `readStream`, a
    * session closes when a later event of the same key arrives past the
    * gap, or when the watermark passes the open session's deadline
    * (timeout fires → the trailing session flushes and its state frees —
    * state tracks OPEN sessions only). On a batch Dataset each group folds
    * once in event-time order and every session (trailing included) emits,
    * which is what the `st9_closed_sessions` gate row checks; incremental
    * close + timeout flush are asserted in StreamingSpec.
    */
  def sessionizeStateful(events: Dataset[UserEvent], gapUs: Long = 1800000000L,
                         watermarkDelay: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val isStreaming = events.isStreaming // see runningUserCountsBounded
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's deadline: flush + free
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.start_us, s.last_us, s.n))
          } else {
            // Interval merge, not a last_us-only fold: the state's open
            // session joins the batch's events as one interval, everything
            // sorts by start, and adjacent intervals merge only when the
            // true gap between them (next.start - cur.last) is < gapUs.
            // This keeps session_window semantics under out-of-order
            // arrival — an event more than gapUs BEFORE the open session's
            // start becomes its own (earlier) session instead of merging,
            // and a within-watermark straggler between two bounds merges
            // without dragging bounds backward. Bounds-only state is the
            // one documented approximation: an event landing strictly
            // inside the open span merges regardless of the span's
            // internal gap structure.
            val items = (state.getOption.toSeq ++
              rows.map(e => { val t = tsMicros(e.ts); OpenSession(t, t, 1) }))
              .sortBy(s => (s.start_us, s.last_us)).iterator
            var open: Option[OpenSession] = None
            val closed = Seq.newBuilder[SessionOut]
            items.foreach { nxt =>
              open match {
                case Some(s) if nxt.start_us - s.last_us < gapUs =>
                  open = Some(OpenSession(s.start_us,
                    math.max(s.last_us, nxt.last_us), s.n + nxt.n))
                case Some(s) =>
                  closed += SessionOut(uid, s.start_us, s.last_us, s.n)
                  open = Some(nxt)
                case None =>
                  open = Some(nxt)
              }
            }
            if (isStreaming) {
              open.foreach { s =>
                state.update(s)
                // deadline = gap past the session's newest event, clamped
                // above the watermark or Spark rejects the timestamp
                state.setTimeoutTimestamp(
                  math.max(s.last_us / 1000L + gapUs / 1000L,
                    state.getCurrentWatermarkMs() + 1))
              }
              closed.result().iterator
            } else {
              // batch: the group is complete, so the trailing open session
              // is closed by end-of-input
              (closed.result() ++
                open.map(s => SessionOut(uid, s.start_us, s.last_us, s.n))).iterator
            }
          }
      }
  }

  /** DuckDB mirror of [[sessionizeStateful]]'s batch semantics: the
    * lag/flag/cumsum sessionization of [[sessionCountsSql]] extended with
    * the session end bound.
    */
  def sessionizeStatefulSql(gapUs: Long = 1800000000L): String =
    s"""WITH o AS (SELECT user_id, epoch_us(ts) AS e,
       |                  CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) >= $gapUs
       |                       THEN 1 ELSE 0 END AS brk
       |           FROM events),
       |s AS (SELECT user_id, e, SUM(brk) OVER (PARTITION BY user_id ORDER BY e) AS sid FROM o)
       |SELECT user_id, MIN(e) AS session_start_us, MAX(e) AS session_end_us, COUNT(*) AS n
       |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin

  /** One round of the foreachBatch CDC-apply pattern (the Delta/Iceberg
    * "streaming MERGE" idiom): fold a micro-batch of raw events into a
    * per-user totals TABLE `(user_id, n_events, last_ts_us)` by computing
    * the batch's delta aggregate, combining it with the current target's
    * row (so the change-set carries FINAL values — MERGE is overwrite
    * semantics, not additive), and applying [[MergeInto.merge]]. The
    * streaming driver is `writeStream.foreachBatch((b, _) => target =
    * upsertTotalsBatch(target, b))`; batch mode folds the same function
    * over deterministic batch splits (the driver's gate, `st14`), and the
    * real foreachBatch execution over split MemoryStream feeds is
    * asserted in StreamingSpec.
    *
    * Scale shape: the batch delta is micro-batch-sized; the combine join
    * touches only keys ACTIVE in the batch (left join from the delta);
    * the merge is MergeInto's one full-outer join, which Spark cannot
    * broadcast, so every batch shuffles the whole target beside the
    * change set and rewrites it — per-batch cost tracks the table
    * ([[graft.operators.MergeInto.mergeCow]] bounds the rewrite to
    * touched partitions on a partitioned target). A totals table kept in
    * a [[graft.operators.CommitTable]] merges through its `merge`, which
    * below `CommitTable.DriverCommitBudget` runs the same join and
    * projection on the driver with no Spark job of its own.
    */
  def upsertTotalsBatch(target: DataFrame, batch: DataFrame): DataFrame = {
    val delta = normalized(batch).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("ts_us").as("last_ts_us"))
    val changes = delta.as("d")
      .join(target.as("t"), Seq("user_id"), "left_outer")
      .select(col("user_id"),
        (col("d.n_events") + coalesce(col("t.n_events"), lit(0L))).as("n_events"),
        greatest(col("d.last_ts_us"), coalesce(col("t.last_ts_us"), lit(Long.MinValue)))
          .as("last_ts_us"))
    graft.operators.MergeInto.merge(target, changes, keys = Seq("user_id"))
  }

  /** Schema-correct empty totals table to bootstrap [[upsertTotalsBatch]]. */
  def emptyTotals(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("user_id", LongType), StructField("n_events", LongType),
        StructField("last_ts_us", LongType))))
  }

  /** The production variant of [[runningUserCounts]]: per-user state expires
    * after `idle` of event-time inactivity (`EventTimeTimeout` driven by the
    * watermark), so state size tracks ACTIVE users — on an unbounded stream
    * the timeout-free variant's state grows with every user ever seen, which
    * at 100 TB of events is the difference between a bounded state store and
    * an OOM. The trade is explicit: an evicted user's counter restarts from
    * zero if they return after `idle` (eviction is asserted in
    * `StreamingSpec`).
    */
  def runningUserCountsBounded(events: Dataset[UserEvent],
                               watermarkDelay: String = "1 hour",
                               idleMs: Long = 2 * 3600 * 1000L): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    // captured OUTSIDE the closure: on a batch Dataset the watermark node is
    // eliminated (batch plans have no event-time watermark) and
    // getCurrentWatermarkMs throws — and no timeout can ever fire anyway,
    // so the deadline registration is a streaming-only step
    val isStreaming = events.isStreaming
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BoundedState, UserRunning](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[BoundedState]) =>
          if (state.hasTimedOut) {
            state.remove() // idle key: drop the counter, free the state slot
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_type))
            val prev = state.getOption.getOrElse(BoundedState(UserRunning(uid, 0L, ""), Long.MinValue))
            val next = sorted.foldLeft(prev.running)((acc, e) => UserRunning(uid, acc.n_events + 1, e.event_type))
            // deadline = idle past the newest event EVER seen for the key
            // (late-but-accepted older events must not pull it backward);
            // clamped above the watermark or Spark rejects the timestamp
            val maxTs = math.max(prev.max_ts, sorted.last.ts.getTime)
            state.update(BoundedState(next, maxTs))
            if (isStreaming)
              state.setTimeoutTimestamp(math.max(maxTs + idleMs, state.getCurrentWatermarkMs() + 1))
            Iterator.single(next)
          }
      }
  }
}
