package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{Analytics, DerivedGraphs}
import graft.llm.{Dedup, KnnGraph, Similarity, Sketches}
import graft.streaming.{BoundedReplay, EventStreams}
import Oracle.{Derived, Sql}
import QuerySupport._

/** Streaming surface: the same plans under readStream, stateful
  * operators, streamed index maintenance and exactly-once sinks.
  */
private[graft] object StreamQueries {

  val all: Seq[Query] = Seq(
    Query("st1_tumbling_hourly", (s, dir) =>
      EventStreams.tumblingCounts(Tables.events(s, dir)).orderBy("window_start_us", "event_type"),
      Sql(EventStreams.tumblingCountsSql())),
    Query("st12_stream_sessions", (s, dir) =>
      // the stateful half of the real-streaming smoke family: st3's
      // session_window aggregate under an ACTUAL StreamExecution
      // (file-source micro-batches; session state merges across them),
      // complete-mode memory sink, same DuckDB lag/flag/cumsum mirror
      BoundedReplay.runFileStream(
        Tables.events(s, dir),
        name = "st12_sink",
        transform = stream => EventStreams.sessionCounts(stream),
        outputMode = "complete")
        .orderBy("user_id", "session_start_us"),
      Sql(EventStreams.sessionCountsSql())),
    Query("st11_stream_smoke", (s, dir) =>
      // st1's aggregation executed by an ACTUAL streaming query (smoke
      // row): file source -> StreamExecution micro-batches -> complete
      // -mode memory sink, one source file per trigger so the windowed
      // aggregate's state is built up across FOUR micro-batches rather than
      // one batch pass. Complete mode means the sink's final contents are
      // the full aggregate — byte-identical semantics to st1's batch path
      // and the same DuckDB mirror.
      BoundedReplay.runFileStream(
        Tables.events(s, dir),
        name = "st11_sink",
        transform = stream => EventStreams.tumblingCounts(stream),
        outputMode = "complete")
        .orderBy("window_start_us", "event_type"),
      Sql(EventStreams.tumblingCountsSql())),
    Query("st2_sliding_counts", (s, dir) =>
      EventStreams.slidingCounts(Tables.events(s, dir)).orderBy("window_start_us", "event_type"),
      Sql(EventStreams.slidingCountsSql())),
    Query("st3_session_windows", (s, dir) =>
      EventStreams.sessionCounts(Tables.events(s, dir)).orderBy("user_id", "session_start_us"),
      Sql(EventStreams.sessionCountsSql())),
    Query("st4_running_counts", (s, dir) => {
      // the custom-state operator itself (mapGroupsWithState), run in batch
      // mode — Spark's unified model folds each group once from empty
      // state, so the driver's DuckDB oracle checks the EXACT code path the
      // streaming variant runs per micro-batch (incrementality itself is
      // asserted in StreamingSpec over split MemoryStream feeds)
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[EventStreams.UserEvent]
      EventStreams.runningUserCounts(ev).toDF().orderBy("user_id")
    },
      Sql(EventStreams.runningUserCountsSql())),
    Query("st5_stream_join", (s, dir) => {
      // the stream-stream join plan in batch mode: same viewClickJoin code
      // the watermarked streaming test replays; emits the raw pair rows
      // (e7 is the bucketed aggregate cousin)
      val ev = Tables.events(s, dir)
      EventStreams.viewClickJoin(ev, ev).orderBy("view_id", "click_id")
    },
      Sql(EventStreams.viewClickJoinSql())),
    Query("st6_stream_left_join", (s, dir) => {
      // LEFT OUTER stream-stream join in batch mode: views that never
      // converted emit with null click_id; the streaming half (null rows
      // deferred until the watermark closes the window, then state freed)
      // is asserted in StreamingSpec with split feeds + sentinels
      val ev = Tables.events(s, dir)
      EventStreams.viewClickLeftJoin(ev, ev).orderBy("view_id", "click_id")
    },
      Sql(EventStreams.viewClickLeftJoinSql())),
    Query("st15_stream_log_sink", (s, dir) => {
      // streaming ingest INTO the commit-log table — the "streaming sink
      // of a table format" deployment shape: a REAL StreamExecution
      // (file-source micro-batches via BoundedReplay) lands EACH
      // micro-batch as one atomic versioned commit through foreachBatch;
      // the final head, read back THROUGH the log, must carry exactly the
      // one-shot batch content, and the version count equals the
      // micro-batch count. Fresh per-process table, shutdown-hook cleaned
      val t = freshTable(s, "slog", "event_id")
      val ev = Tables.events(s, dir).select(
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("event_type"))
      BoundedReplay.runForeachBatch(ev, "st15_log_sink", b => { t.append(b); () })
      t.read().agg(count(lit(1)).as("n_rows"),
          sum("event_id").as("sum_event"), sum("user_id").as("sum_user"))
        .select(lit(t.versions().length.toLong).as("n_versions"),
          col("n_rows"), col("sum_event"), col("sum_user"))
    },
      // the streamed-in commit-log head must carry
      // exactly the one-shot content; 4 micro-batches = 4 versions — not
      // assumed but ENFORCED: BoundedReplay asserts the staged file count
      // equals sourceFiles, so an input too small to fill 4 partitions
      // fails loudly instead of silently shifting this constant
      Sql("""SELECT 4::BIGINT AS n_versions, COUNT(*) AS n_rows,
        |       SUM(event_id)::BIGINT AS sum_event, SUM(user_id)::BIGINT AS sum_user
        |FROM events""".stripMargin)),
    Query("st28_stream_exactly_once", (s, dir) => {
      // EXACTLY-ONCE streaming ingest under re-delivery (Delta's
      // txnAppId/txnVersion): foreachBatch is AT-LEAST-ONCE — a sink
      // that committed but crashed before the source checkpoint gets the
      // SAME batch (same id) again — so the sink records (appId,
      // batchId) in the commit header and appendIdempotent recognizes
      // the replay and skips it. Here EVERY batch is delivered twice
      // (the worst case); the head must carry the one-shot content and
      // exactly one version per micro-batch, which is precisely what the
      // gate's n_versions/n_rows/sums bind (a double-applied batch
      // doubles all three). st15 is the marker-free baseline.
      val t = freshTable(s, "sxonce", "event_id")
      val ev = Tables.events(s, dir).select(
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("event_type"))
      BoundedReplay.runForeachBatchIds(ev, "st28_sink", (b, id) => {
        val first = t.appendIdempotent(b, "st28_app", id)
        val retry = t.appendIdempotent(b, "st28_app", id) // re-delivery
        require(first.nonEmpty && retry.isEmpty,
          s"batch $id: first=$first retry=$retry — idempotence contract broken")
      })
      t.read().agg(count(lit(1)).as("n_rows"),
          sum("event_id").as("sum_event"), sum("user_id").as("sum_user"))
        .select(lit(t.versions().length.toLong).as("n_versions"),
          col("n_rows"), col("sum_event"), col("sum_user"))
    },
      // double-delivered batches, single-shot
      // head: any replayed append that lands doubles n_rows and the sums
      // and adds versions — the marker keeps all four at st15's values
      Sql("""SELECT 4::BIGINT AS n_versions, COUNT(*) AS n_rows,
        |       SUM(event_id)::BIGINT AS sum_event, SUM(user_id)::BIGINT AS sum_user
        |FROM events""".stripMargin)),
    Query("st17_streaming_view", (s, dir) => {
      // STREAMING MATERIALIZED VIEW: st16's commit-log change stream
      // DRIVING g46's incremental degree maintenance — the end-to-end
      // "table changed, view follows" loop: a real StreamExecution
      // discovers each committed version, its CDF folds into the view
      // state (checkpointed per version, exactly streaming-state shape),
      // and the final view equals the full recompute at the head. Same
      // version history as g46; oracle = recompute over the final set.
      val root = IndexCache.freshRoot("sview")
      val tp = root.resolve("edges").toString
      val t = new graft.operators.CommitTable(s, tp, "src")
      val e = DerivedGraphs.small(s, dir)
      t.overwrite(e.filter(col("dst") % 5 =!= 0))
      t.append(e.filter(col("dst") % 5 === 0))
      t.overwrite(e.filter(col("src") % 7 =!= 0))
      var view: DataFrame = null
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        view = (if (v == 0L) Analytics.degrees(t.asOf(0L), dedup = false)
                else graft.graph.IncrementalViews.applyDegreeDeltas(view, cdf))
          .localCheckpoint(true) // materialize the fold inside its micro-batch
      })
      view.orderBy("vertex")
    },
      // the stream-maintained view must equal the
      // full recompute at the head (g46's oracle, streaming-driven)
      Sql(s"""WITH e AS (SELECT src, dst FROM (${DerivedGraphs.smallSql}) t WHERE src % 7 <> 0),
         |o AS (SELECT src AS vertex, COUNT(*)::BIGINT AS out_degree FROM e GROUP BY 1),
         |i AS (SELECT dst AS vertex, COUNT(*)::BIGINT AS in_degree FROM e GROUP BY 1)
         |SELECT COALESCE(o.vertex, i.vertex) AS vertex,
         |       COALESCE(out_degree, 0)::BIGINT AS out_degree,
         |       COALESCE(in_degree, 0)::BIGINT AS in_degree
         |FROM o FULL OUTER JOIN i ON o.vertex = i.vertex ORDER BY vertex""".stripMargin)),
    Query("st18_stream_ivf", (s, dir) => {
      // STREAMING VECTOR-INDEX MAINTENANCE (st17's change-feed -> incremental-view loop composed with the
      // persisted ANN index): embeddings land in a commit-log table over
      // three versions; a real StreamExecution follows the log, the v0
      // snapshot trains + builds the IVF index, and each later version's
      // insert feed appends to the committed lists against the FIXED
      // codebook — one atomic lists version per discovered commit, no
      // retraining, no pass over existing vectors. The final index is
      // exactly s14's add-after-train artifact, so the query over it
      // shares the train-on-prefix oracle.
      val root = IndexCache.freshRoot("sivf")
      val tp = root.resolve("emb").toString
      val t = new graft.operators.CommitTable(s, tp, "vec_id")
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      t.overwrite(emb.filter(col("vec_id") < 250))
      t.append(emb.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 0))
      t.append(emb.filter(col("vec_id") >= 250 && col("vec_id") % 2 =!= 0))
      // v0's snapshot build resolves through the memoized lt250 template
      // (bit-identical by the IndexCache determinism contract); the change
      // stream attaches at startingVersion = 1 — the production shape for
      // adding streamed maintenance to an EXISTING index (replaying v0's
      // snapshot through the feed would be a corpus-sized job before the
      // first real increment). Appends mutate → private copy.
      val idx = IndexCache.privateCopy(s"ivf|$dir|lt250", "sivfidx")(p =>
        Similarity.buildIvfIndex(emb.filter(col("vec_id") < 250), p))
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val batch = cdf.filter(col("change_type") === "insert").drop("change_type")
        Similarity.appendIvfIndex(batch, idx)
      }, startingVersion = 1L)
      Similarity.ivfTopKIndexed(s, idx)
    },
      // the streamed appends reproduce s14's
      // add-after-train index at the head (same v0 training prefix,
      // fixed-codebook assignment per discovered version), so the query
      // shares its train-on-prefix mirror
      Sql(Similarity.ivfTopKSql(trainFilter = "vec_id < 250"))),
    Query("st22_stream_index_optimize", (s, dir) => {
      // the MAINTENANCE step of the streamed-index loop: st18's change-feed appends commit once
      // per micro-batch and accrete small files; here the full production
      // loop runs — stream appends, then OPTIMIZE (clustered compaction:
      // the lists fold into few RANGE-partitioned-by-cid files, so probe
      // file-pruning survives), then query. Content is byte-identical
      // through the compaction commit (file-count drop + asOf history
      // asserted in CommitLogSpec/StreamingSpec), so the probe shares
      // st18's train-on-prefix oracle.
      val root = IndexCache.freshRoot("sivfopt")
      val tp = root.resolve("emb").toString
      val t = new graft.operators.CommitTable(s, tp, "vec_id")
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      t.overwrite(emb.filter(col("vec_id") < 250))
      t.append(emb.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 0))
      t.append(emb.filter(col("vec_id") >= 250 && col("vec_id") % 2 =!= 0))
      // st18's memoized-template + startingVersion=1 attach (see there);
      // this row's own surface is the OPTIMIZE step after the stream.
      val idx = IndexCache.privateCopy(s"ivf|$dir|lt250", "sivfoptidx")(p =>
        Similarity.buildIvfIndex(emb.filter(col("vec_id") < 250), p))
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val batch = cdf.filter(col("change_type") === "insert").drop("change_type")
        Similarity.appendIvfIndex(batch, idx)
      }, startingVersion = 1L)
      new graft.operators.CommitTable(s, s"$idx/lists", "cid")
        .compactClustered("cid", targetFiles = 4)
      Similarity.ivfTopKIndexed(s, idx)
    },
      // the clustered compaction commit is
      // content-preserving, so the post-OPTIMIZE probe still matches
      // st18's streamed add-after-train mirror
      Sql(Similarity.ivfTopKSql(trainFilter = "vec_id < 250"))),
    Query("st21_stream_dedup_idx", (s, dir) => {
      // streamed DEDUP-index maintenance — the st18/st19 loop completing
      // the index family: the historical corpus lands in a commit-log
      // table over three versions, the change stream builds the MinHash
      // index from the v0 snapshot and appends each later insert feed
      // (per-document signatures => streamed head == full rebuild), and
      // the daily shard probes the streamed head. Same halves as d19, so
      // the probe shares its side-restricted mirror.
      val root = IndexCache.freshRoot("sdedup")
      val tp = root.resolve("docs").toString
      val t = new graft.operators.CommitTable(s, tp, "doc_id")
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      t.overwrite(docs.filter(col("doc_id") % 8 === 0))
      t.append(docs.filter(col("doc_id") % 8 === 2))
      t.append(docs.filter(col("doc_id") % 2 === 0
        && col("doc_id") % 8 =!= 0 && col("doc_id") % 8 =!= 2))
      // v0 build = memoized template; stream attaches at v1 (st18's
      // startingVersion discipline). Appends mutate → private copy.
      val idx = IndexCache.privateCopy(s"dedup|$dir|mod8eq0", "sdedupidx")(p =>
        Dedup.buildDedupIndex(docs.filter(col("doc_id") % 8 === 0), p))
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val batch = cdf.filter(col("change_type") === "insert").drop("change_type")
        Dedup.appendDedupIndex(batch, idx)
      }, startingVersion = 1L)
      Dedup.dedupAgainstIndex(docs.filter(col("doc_id") % 2 =!= 0), idx)
    },
      // streamed head == full rebuild over the
      // evens (per-document signatures), so the probe shares d19's
      // side-restricted mirror
      Sql(Dedup.dedupAgainstIndexSql(oldFilter = "% 2 = 0", newFilter = "% 2 = 1"))),
    Query("st24_stream_graph_idx", (s, dir) => {
      // streamed GRAPH-index maintenance — the st18/st19/st21/st23 loop
      // closing over the last index family member: embeddings land in a
      // commit-log table over three versions, the change stream builds
      // the k-NN graph index from the v0 snapshot and runs the
      // FreshDiskANN search-then-link append for each later insert feed
      // (batch 2 links against build ∪ batch 1 — the committed state at
      // its turn), then the production maintenance step compacts the
      // append-accreted graph files (content-preserving, st22's
      // machinery) before the final routed walk. The mirror replays the
      // same two-batch append chain.
      val root = IndexCache.freshRoot("sknng")
      val tp = root.resolve("emb").toString
      val t = new graft.operators.CommitTable(s, tp, "vec_id")
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      t.overwrite(emb.filter(col("vec_id") >= 100))
      t.append(emb.filter(col("vec_id") >= 50 && col("vec_id") < 100))
      t.append(emb.filter(col("vec_id") < 50))
      // v0 build = s26's memoized ge100 template (bit-identical by the
      // IndexCache determinism contract); the stream attaches at v1 so
      // each append batch links against the committed state at its turn
      // (batch 2 against build ∪ batch 1, exactly as before). Appends
      // mutate → private copy per execution.
      val idx = IndexCache.privateCopy(s"knng|$dir|ge100", "sknngidx")(p =>
        KnnGraph.buildKnnGraphIndex(emb.filter(col("vec_id") >= 100), p))
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val batch = cdf.filter(col("change_type") === "insert").drop("change_type")
        KnnGraph.appendKnnGraphIndex(batch, idx)
      }, startingVersion = 1L)
      new graft.operators.CommitTable(s, s"$idx/graph", "src")
        .compactClustered("src", targetFiles = 4)
      KnnGraph.knnGraphSearch(s, idx)
    },
      // the same append chain replayed batch by
      // batch: [50,100) links against the build state, [0,50) against
      // build ∪ first batch; the compaction commit is content-preserving
      Sql(KnnGraph.knnGraphAppendSearchSql(batches = Seq((50L, 100L), (0L, 50L))))),
    Query("st26_stream_ann_serve", (s, dir) => {
      // STREAMED SERVING over a committed index (the inverse of st18's
      // streamed maintenance): query vectors arrive as commits on a
      // request table, the change feed probes each batch against the
      // committed IVF index through the EXTERNAL-queries entry
      // (ivfSearchFor — zero training/corpus jobs per batch) and appends
      // results to a serving log; the accumulated log equals the
      // one-shot batch probe, so it shares s3's mirror.
      val root = IndexCache.freshRoot("sannserve")
      val emb = Tables.embeddings(s, dir)
      // the committed index being SERVED is s12's memoized artifact
      // (read-only here — ivfSearchFor runs zero corpus/training jobs)
      val idx = IndexCache.template(s"ivf|$dir|full")(
        Similarity.buildIvfIndex(emb, _))
      val qp = root.resolve("q").toString
      val qt = new graft.operators.CommitTable(s, qp, "vec_id")
      val q = emb.select("vec_id", "embedding").filter(col("vec_id") < 20)
      qt.overwrite(q.filter(col("vec_id") < 10))
      qt.append(q.filter(col("vec_id") >= 10))
      val serveT = new graft.operators.CommitTable(s, root.resolve("serve").toString, "query_id")
      graft.streaming.CommitLogStream.followChanges(s, qt, qp, (v, cdf) => {
        val batch = cdf.filter(col("change_type") === "insert").drop("change_type")
        val res = Similarity.ivfSearchFor(s, idx, batch)
        if (v == 0L) serveT.overwrite(res) else serveT.append(res)
      })
      serveT.read().orderBy("query_id", "rank")
    },
      // the accumulated serving log equals the
      // one-shot batch probe — s3's mirror verbatim
      Sql(Similarity.ivfTopKSql())),
    Query("st25_stream_index_delete", (s, dir) => {
      // the delete lifecycle STREAMED: a real DELETE WHERE commit on the
      // source table (f22's file-granular CoW) flows through the change
      // feed as 'delete' rows, which the maintenance loop turns into one
      // tombstone commit on the index (s27's O(deleted) shape) — then the
      // production consolidation physically drops them before the probe.
      // Mixed feeds compose: 'insert' rows would take the st18 append
      // path in the same lambda.
      val root = IndexCache.freshRoot("sidxdel")
      val tp = root.resolve("emb").toString
      val t = new graft.operators.CommitTable(s, tp, "vec_id")
      t.overwrite(Tables.embeddings(s, dir).select("vec_id", "embedding"))
      t.deleteRange(120L, 179L)
      // v0 build = the shared full-corpus template; the stream attaches
      // at v1 (st18's startingVersion discipline), where the DELETE WHERE
      // commit arrives as 'delete' rows. Mutates → private copy.
      val idx = IndexCache.privateCopy(s"ivf|$dir|full", "sidxdelidx")(p =>
        Similarity.buildIvfIndex(Tables.embeddings(s, dir), p))
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val ins = cdf.filter(col("change_type") === "insert").drop("change_type")
        val del = cdf.filter(col("change_type") === "delete").drop("change_type")
        if (!del.isEmpty) Similarity.deleteFromIvfIndex(del.select("vec_id"), idx)
        if (!ins.isEmpty) Similarity.appendIvfIndex(ins, idx)
      }, startingVersion = 1L)
      Similarity.consolidateIvfIndex(s, idx)
      Similarity.ivfTopKIndexed(s, idx)
    },
      // the streamed tombstone + consolidation
      // equals s27's filtered mirror (deleteRange BETWEEN is inclusive)
      Sql(Similarity.ivfTopKSql(candFilter = "NOT (vec_id BETWEEN 120 AND 179)"))),
    Query("st30_landing_ingest", (s, dir) => {
      // DIRECTORY-TAIL STREAMING INGEST (the raw landing zone streams in
      // without a batch load before the table-to-table change feeds): a DSv2 MicroBatchStream tails a landing
      // directory of JSONL files with an O(1) file-name-watermark offset,
      // feeding appendIdempotent in foreachBatch — end-to-end
      // exactly-once. Two files land, a REAL StreamExecution consumes
      // them; a third lands and a SECOND query run restarts from the
      // checkpoint (offsets restart-safe — only the new file is read,
      // nothing re-ingests); the committed table must equal the batch
      // load of all three slices, duplicates impossible.
      val root = IndexCache.freshRoot("landing")
      val land = root.resolve("land")
      java.nio.file.Files.createDirectories(land)
      val ckpt = root.resolve("ckpt").toString
      val t = new graft.operators.CommitTable(s, root.resolve("tbl").toString, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      def landFile(name: String, lo: Long, hi: Long): Unit = {
        // the shipper discipline the source documents: upload dot-prefixed,
        // rename into place — a half-written file is never offered
        val lines = ord.filter(col("k").between(lo, hi)).orderBy("k")
          .toJSON.collect().mkString("\n")
        val tmp = land.resolve(s".$name.inprogress")
        java.nio.file.Files.write(tmp, lines.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, land.resolve(name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      }
      def runOnce(): Unit = {
        val src = s.readStream.format("graft.sources.LandingZoneStream")
          .option("format", "jsonl").option("ddl", "k BIGINT, v BIGINT")
          .load(land.toString)
        val q = src.writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, id: Long) =>
            t.appendIdempotent(b, "landing", id); () }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      landFile("f00001.jsonl", 0L, 199L)
      landFile("f00002.jsonl", 200L, 399L)
      runOnce()
      landFile("f00003.jsonl", 400L, 499L)
      runOnce() // restart from the checkpoint: only the new file
      t.read().agg(
          count(lit(1)).as("n_rows"),
          sum("k").as("sum_k"),
          sum("v").as("sum_v"))
        .select(lit(1L).as("one"), col("n_rows"), col("sum_k"), col("sum_v"))
    },
      // the streamed landing ingest must equal the
      // batch load of the three staged slices (keys 0..499), exactly
      // once across the restart — any replay doubles the sums
      Sql("""SELECT 1::BIGINT AS one, COUNT(*) AS n_rows,
        |       SUM(o_orderkey)::BIGINT AS sum_k, SUM(o_custkey)::BIGINT AS sum_v
        |FROM orders WHERE o_orderkey <= 499""".stripMargin)),
    Query("st29_stream_dv_delete", (s, dir) => {
      // st25's streamed delete lifecycle driven by a DELETION-VECTOR
      // commit instead of the CoW rewrite: the
      // deleteWhereDV commit changes no data file, so the change feed
      // for its version resolves through the SIDECAR-DELTA CDF —
      // O(deleted) rows read from exactly the touched files, never a
      // full-table diff (the shape f30 asserts structurally) — and the
      // maintenance loop turns it into the same index tombstones +
      // consolidation. Result equals st25's (and s27's mirror): the
      // delete path into the index must not depend on HOW the source
      // deleted.
      val root = IndexCache.freshRoot("sdvdel")
      val tp = root.resolve("emb").toString
      val t = new graft.operators.CommitTable(s, tp, "vec_id")
      t.overwrite(Tables.embeddings(s, dir).select("vec_id", "embedding"))
      t.deleteWhereDV("vec_id BETWEEN 120 AND 179")
      val idx = IndexCache.privateCopy(s"ivf|$dir|full", "sdvdelidx")(p =>
        Similarity.buildIvfIndex(Tables.embeddings(s, dir), p))
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val ins = cdf.filter(col("change_type") === "insert").drop("change_type")
        val del = cdf.filter(col("change_type") === "delete").drop("change_type")
        if (!del.isEmpty) Similarity.deleteFromIvfIndex(del.select("vec_id"), idx)
        if (!ins.isEmpty) Similarity.appendIvfIndex(ins, idx)
      }, startingVersion = 1L)
      Similarity.consolidateIvfIndex(s, idx)
      Similarity.ivfTopKIndexed(s, idx)
    },
      // the DV-delete-driven stream must land on
      // the SAME index state as st25's CoW-driven one — the mirror is
      // identical by design (delete mechanics must not leak downstream)
      Sql(Similarity.ivfTopKSql(candFilter = "NOT (vec_id BETWEEN 120 AND 179)"))),
    Query("st20_stream_cep", (s, dir) => {
      // streaming CEP: e34's automaton as mapGroupsWithState custom
      // state (O(keys) registers, never event history) — run here in
      // batch mode (each group folds once from empty state, the st4
      // discipline binding the exact code path), so the result equals
      // e34's and shares its independent sequential-automaton oracle;
      // the genuine cross-micro-batch increment is asserted over split
      // ordered MemoryStream feeds in StreamingSpec.
      import s.implicits._
      val ev = EventStreams.normalized(Tables.events(s, dir))
        .select(col("user_id").cast("long").as("user_id"), col("ts_us"),
          col("event_id").cast("long").as("event_id"), col("event_type"))
        .as[EventStreams.CepEvent]
      EventStreams.streamingPatternCounts(ev).toDF()
        .select(col("user_id"), col("n_events"), col("n_matches"))
        .orderBy("user_id")
    },
      // the streaming-state fold from empty state equals the batch automaton,
      // so the batch and streaming gates share one independent mirror
      Derived(eventPatternOracle)),
    Query("st19_stream_bm25", (s, dir) => {
      // streamed SPARSE-index maintenance (st18's loop on the BM25
      // index): documents land in a commit-log table over three
      // versions; the change stream builds the postings index from the
      // v0 snapshot and appends each later insert feed — and because
      // BM25 has no trained component, the streamed head EQUALS a full
      // rebuild, so the query shares t37's inline oracle exactly.
      val root = IndexCache.freshRoot("sbm25")
      val tp = root.resolve("docs").toString
      val t = new graft.operators.CommitTable(s, tp, "doc_id")
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      t.overwrite(docs.filter(col("doc_id") % 3 === 0))
      t.append(docs.filter(col("doc_id") % 3 === 1))
      t.append(docs.filter(col("doc_id") % 3 === 2))
      // v0 build = memoized template; stream attaches at v1 (st18's
      // startingVersion discipline). Appends mutate → private copy.
      val idx = IndexCache.privateCopy(s"bm25|$dir|mod3eq0", "sbm25idx")(p =>
        graft.llm.Retrieval.buildBm25Index(docs.filter(col("doc_id") % 3 === 0), p))
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val batch = cdf.filter(col("change_type") === "insert").drop("change_type")
        graft.llm.Retrieval.appendBm25Index(batch, idx)
      }, startingVersion = 1L)
      graft.llm.Retrieval.bm25TopKIndexed(s, idx, Bm25QueryTerms, k = 15)
    },
      // streamed maintenance head == full rebuild
      Derived(bm25Sql)),
    Query("st16_stream_log_source", (s, dir) => {
      // streaming SOURCE over the commit log (st15's read half, Delta's
      // streaming-source shape): three committed versions, then a REAL
      // StreamExecution follows _log/ with the file streaming source —
      // each discovered version file (atomic rename ⇒ never partial)
      // yields that version's change feed through the log API. Output =
      // per-version insert/delete counts, identical however discovery
      // batches the files. Oracle: the same change sets derived straight
      // from the source table.
      val root = IndexCache.freshRoot("slogsrc")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
      t.overwrite(nat.filter(col("n_nationkey") < 10))
      t.append(nat.filter(col("n_nationkey") >= 10))
      t.overwrite(nat.filter(col("n_nationkey") % 2 === 0))
      val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val r = cdf.agg(
          sum(when(col("change_type") === "insert", 1L).otherwise(0L)).as("i"),
          sum(when(col("change_type") === "delete", 1L).otherwise(0L)).as("d")).head()
        acc += ((v, r.getLong(0), r.getLong(1)))
      })
      import s.implicits._
      acc.sortBy(_._1).toSeq.toDF("version", "n_inserts", "n_deletes")
    },
      // the three change sets derived straight
      // from the source: v0 = keys < 10 (initial inserts), v1 = append of
      // the rest (inserts only), v2 = overwrite keeping evens (deletes =
      // the odd keys present in v1)
      Sql("""SELECT CAST(0 AS BIGINT) AS version,
        |       (SELECT COUNT(*) FROM nation WHERE n_nationkey < 10) AS n_inserts,
        |       CAST(0 AS BIGINT) AS n_deletes
        |UNION ALL SELECT 1, (SELECT COUNT(*) FROM nation WHERE n_nationkey >= 10), 0
        |UNION ALL SELECT 2, 0, (SELECT COUNT(*) FROM nation WHERE n_nationkey % 2 = 1)
        |ORDER BY version""".stripMargin)),
    Query("st14_stream_upsert", (s, dir) => {
      // the foreachBatch CDC-apply pattern in batch mode: two
      // deterministic "micro-batches" (event_id parity) folded into a
      // totals table via delta-aggregate + combine + MERGE per round —
      // the result must equal the one-shot aggregate (round-trip
      // identity, p4's discipline), binding the per-batch merge path to
      // the gate; the real writeStream.foreachBatch execution over split
      // feeds is asserted in StreamingSpec
      val ev = Tables.events(s, dir)
      val t0 = EventStreams.emptyTotals(s)
      val t1 = EventStreams.upsertTotalsBatch(t0, ev.filter(col("event_id") % 2 === 0))
      EventStreams.upsertTotalsBatch(t1, ev.filter(col("event_id") % 2 =!= 0))
        .orderBy("user_id")
    },
      // round-trip identity: two merged batches
      // must reproduce the one-shot aggregate
      Sql("""SELECT user_id, COUNT(*) AS n_events, MAX(epoch_us(ts)) AS last_ts_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("st13_stream_full_join", (s, dir) => {
      // FULL OUTER stream-stream join in batch mode (the fourth join mode
      // after st5/st6/st8): unmatched views AND unmatched clicks both
      // emit null-padded — streamable because each side's watermark
      // bounds the other side's state; the two-sided deferred emission is
      // asserted in StreamingSpec with split feeds
      val ev = Tables.events(s, dir)
      EventStreams.viewClickFullJoin(ev, ev)
        .orderBy(col("view_id").asc_nulls_last, col("click_id").asc_nulls_first)
    },
      Sql(EventStreams.viewClickFullJoinSql())),
    Query("st8_stream_static", (s, dir) => {
      // stream-static enrichment (the zero-state third join mode): batch
      // semantics gated here; the MemoryStream half is in StreamingSpec
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      EventStreams.enrichPurchases(Tables.events(s, dir), dim).orderBy("event_id")
    },
      Sql(EventStreams.enrichPurchasesSql())),
    Query("st7_bounded_counts", (s, dir) => {
      // the EventTimeTimeout stateful variant (the production state-bounded
      // form of st4) in batch mode: each group folds once from empty state
      // and no timeout fires, so the within-horizon final state is the same
      // per-user fold st4 gates — this row binds the
      // flatMapGroupsWithState + EventTimeTimeout code path to the gate;
      // the eviction half (idle-key state removal, counter restart) is
      // streaming-only behavior asserted in StreamingSpec
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[EventStreams.UserEvent]
      EventStreams.runningUserCountsBounded(ev).toDF().orderBy("user_id")
    },
      Sql(EventStreams.runningUserCountsSql())),
    Query("st10_tws_counts", (s, dir) => {
      // the transformWithState API (Spark 4.x's typed-state successor to
      // mapGroupsWithState) bound to the gate: same per-user fold as st4,
      // run in batch mode — one init + one handleInputRows per group from
      // absent state; the RocksDB-backed incremental half is StreamingSpec's
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[EventStreams.UserEvent]
      EventStreams.runningUserCountsTws(ev).toDF().orderBy("user_id")
    },
      Sql(EventStreams.runningUserCountsSql())),
    Query("st9_closed_sessions", (s, dir) => {
      // Append-mode custom-state sessionization: one final row per CLOSED
      // session (the append-only-sink contract; st4/st7 cover the
      // always-emit and Update-mode shapes). Batch mode folds each group
      // once in event-time order and closes the trailing session at
      // end-of-input; the streaming half (incremental close on gap,
      // timeout flush at the watermark) is asserted in StreamingSpec
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[EventStreams.UserEvent]
      EventStreams.sessionizeStateful(ev).toDF()
        .orderBy("user_id", "session_start_us")
    },
      Sql(EventStreams.sessionizeStatefulSql())),
    Query("st23_stream_quantiles", (s, dir) => {
      // streamed SKETCH maintenance: t45's adaptive quantile sketch kept
      // fresh by the change feed — per discovered commit the insert
      // feed's own sketch merges into the committed head (one overwrite
      // commit per version), and the EXACT merge law makes the streamed
      // head provably identical to a one-shot build over the union, so
      // the readout shares t45's direct-build mirror verbatim.
      val root = IndexCache.freshRoot("squant")
      val tp = root.resolve("rows").toString
      val t = new graft.operators.CommitTable(s, tp, "uid")
      val base = Tables.orders(s, dir).select(col("o_orderkey").as("uid"),
        floor(col("o_totalprice")).cast("long").as("val"))
      t.overwrite(base.filter(col("uid") % 3 === 0))
      t.append(base.filter(col("uid") % 3 === 1))
      t.append(base.filter(col("uid") % 3 === 2))
      val skT = new graft.operators.CommitTable(s, root.resolve("sketch").toString, "z")
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val batch = cdf.filter(col("change_type") === "insert").drop("change_type")
        val bs = graft.llm.Sketches.adaptiveQuantileSketch(batch)
        if (v == 0L) skT.overwrite(bs)
        else skT.overwrite(graft.llm.Sketches.mergeQuantileSketches(skT.read(), bs))
      })
      graft.llm.Sketches.sketchQuantiles(skT.read(), Seq(250000L, 500000L, 900000L))
    },
      // three streamed commits' sketches merged
      // per version == one direct build (the exact merge law again)
      Sql(Sketches.adaptiveQuantilesSql())),
    Query("st27_stream_hll", (s, dir) => {
      // streamed HLL maintenance: t47's fixed-size register sketch kept
      // fresh by the change feed — per discovered commit the insert
      // batch's own 256-register state merges into the committed head by
      // pairwise MAX (one overwrite commit per version), and the exact
      // merge law makes the streamed head provably identical to a
      // one-shot build over the union, so the readout shares t47's
      // direct-build mirror verbatim (the st23 loop, for cardinality).
      val root = IndexCache.freshRoot("shll")
      val tp = root.resolve("docs").toString
      val t = new graft.operators.CommitTable(s, tp, "doc_id")
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("lang"))
      t.overwrite(base.filter(col("doc_id") % 3 === 0))
      t.append(base.filter(col("doc_id") % 3 === 1))
      t.append(base.filter(col("doc_id") % 3 === 2))
      val regT = new graft.operators.CommitTable(s, root.resolve("regs").toString, "j")
      graft.streaming.CommitLogStream.followChanges(s, t, tp, (v, cdf) => {
        val batch = cdf.filter(col("change_type") === "insert").drop("change_type")
        val bs = graft.llm.Sketches.hllRegisters(batch)
        if (v == 0L) regT.overwrite(bs)
        else regT.overwrite(graft.llm.Sketches.mergeHllRegisters(regT.read(), bs))
      })
      graft.llm.Sketches.hllWithExact(t.read(), regT.read())
    },
      // t47's direct-build mirror verbatim — that the
      // streamed register head matches it IS the merge law through real
      // commits
      Sql(Sketches.hllDistinctTokensSql())))
}
