package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.DotProduct

/** Session factory for the graft engine.
  *
  * Settings chosen for the local[32] test harness but scale-safe: AQE on
  * (runtime re-plan, skew-join splitting, partition coalescing — the knobs a
  * 1000-executor cluster needs), shuffle partitions sized to cores locally
  * (on a real cluster this is overridden per deployment), UTC session time
  * so results hash-match the DuckDB oracle.
  *
  * The engine's custom Catalyst expressions are registered through the
  * public `SparkSessionExtensions` hook, so `spark.sql("... dot_product(a,
  * b) ...")` works alongside the Column API
  * ([[graft.functions.VectorExpressions]]).
  */
/** Process-temp directories (per-PID warehouse, g10's round-trip dir) are
  * deleted on JVM exit by a shutdown hook — `File.deleteOnExit` can't remove
  * non-empty directories, so without this every bench/verify run would leave
  * its garbage in /tmp.
  */
object TempDirs {
  private val registered = scala.collection.mutable.Set.empty[String]
  def deleteOnExit(dir: java.nio.file.Path): java.nio.file.Path = synchronized {
    if (registered.add(dir.toAbsolutePath.toString))
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir
  }
  def deleteRecursively(dir: java.nio.file.Path): Unit =
    // Spark's own shutdown hooks may be deleting the same tree concurrently:
    // close the walk stream deterministically and absorb mid-walk
    // NoSuchFile/UncheckedIO failures so this hook thread never dies noisily
    try {
      if (java.nio.file.Files.exists(dir)) {
        val stream = java.nio.file.Files.walk(dir)
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala.toSeq.reverseIterator
            .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
        } finally stream.close()
      }
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}

object GraftSession {
  def builder(master: String = "local[*]", cores: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions { ext =>
        ext.injectFunction((
          FunctionIdentifier("dot_product"),
          new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
          (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
            require(args.length == 2, "dot_product(a, b) takes exactly 2 arguments")
            DotProduct(args.head, args(1))
          }))
        ext.injectFunction((
          FunctionIdentifier("sorted_intersect_count"),
          new ExpressionInfo(classOf[graft.functions.SortedIntersectCount].getName,
            "sorted_intersect_count"),
          (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
            require(args.length == 2, "sorted_intersect_count(a, b) takes exactly 2 arguments")
            graft.functions.SortedIntersectCount(args.head, args(1))
          }))
        // table-valued graph surface: SELECT * FROM graph_bfs(root, g, 0, 12)
        // — see GraphTvfs for the analysis-time-execution contract
        Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)](
          "graph_bfs" -> graft.plans.GraphTvfs.bfs,
          "graph_degrees" -> graft.plans.GraphTvfs.degrees,
          "graph_pagerank" -> graft.plans.GraphTvfs.pagerank,
          "graph_cc" -> graft.plans.GraphTvfs.cc,
          "graph_shortest_path" -> graft.plans.GraphTvfs.shortestPath,
          "graph_motif" -> graft.plans.GraphTvfs.motif,
          // the storage layer's SQL surface: commit-log tables readable
          // (head / VERSION AS OF / log-stats-pruned range) from pure SQL
          "log_table" -> graft.plans.LogTvfs.read,
          "log_table_at" -> graft.plans.LogTvfs.asOf,
          "log_table_at_ts" -> graft.plans.LogTvfs.asOfTs,
          "log_restore" -> graft.plans.LogTvfs.restore,
          "log_table_range" -> graft.plans.LogTvfs.range,
          // multi-column stats cut + the CDF surface (Delta table_changes)
          "log_table_range_on" -> graft.plans.LogTvfs.rangeOn,
          "log_changes" -> graft.plans.LogTvfs.changes,
          // ...and WRITABLE from pure SQL: the statement commits at
          // analysis and returns the resulting head (LogTvfs's contract)
          "log_delete" -> graft.plans.LogTvfs.delete,
          "log_merge" -> graft.plans.LogTvfs.mergeFrom,
          "log_update" -> graft.plans.LogTvfs.update,
          "log_optimize" -> graft.plans.LogTvfs.optimize,
          "log_optimize_zorder" -> graft.plans.LogTvfs.optimizeZorder,
          "log_optimize_size" -> graft.plans.LogTvfs.optimizeSize,
          "log_vacuum" -> graft.plans.LogTvfs.vacuum,
          "log_vacuum_retain" -> graft.plans.LogTvfs.vacuumRetain,
          // round-16 metadata planes, SQL-complete (the q43 discipline:
          // every Scala table op gets its statement form)
          "log_delete_dv" -> graft.plans.LogTvfs.deleteDv,
          "log_delete_where_dv" -> graft.plans.LogTvfs.deleteWhereDv,
          // round-17: the DV-backed UPDATE and MERGE (mark + append,
          // one commit — O(changed) writes, zero file rewrites)
          "log_update_where_dv" -> graft.plans.LogTvfs.updateWhereDv,
          "log_merge_dv" -> graft.plans.LogTvfs.mergeDvFrom,
          // round-18: selective DV materialization (REORG … APPLY (PURGE))
          // and incremental OPTIMIZE (small files only)
          "log_purge_dv" -> graft.plans.LogTvfs.purgeDv,
          "log_optimize_small" -> graft.plans.LogTvfs.optimizeSmall,
          "log_maintain" -> graft.plans.LogTvfs.maintain,
          "log_rename_column" -> graft.plans.LogTvfs.renameColumn,
          "log_drop_column" -> graft.plans.LogTvfs.dropColumn,
          "log_set_invariants" -> graft.plans.LogTvfs.setInvariantsTvf,
          "log_detail" -> graft.plans.LogTvfs.detail,
          // catalog introspection: one row per registered name
          "log_tables" -> graft.plans.LogTvfs.tables,
          // ...and the persisted-index probes queryable from pure SQL
          // (the pgvector-shaped surface) — see IndexTvfs
          "ann_topk" -> graft.plans.IndexTvfs.annTopK,
          "ann_topk_filtered" -> graft.plans.IndexTvfs.annTopKFiltered,
          "log_history" -> graft.plans.LogTvfs.history,
          // named catalog over paths: register once, then every log/index
          // TVF accepts the NAME instead of (path, stats_col)
          "log_register" -> graft.plans.LogTvfs.register,
          "log_unregister" -> graft.plans.LogTvfs.unregister,
          "graph_ann" -> graft.plans.IndexTvfs.graphAnn,
          "bm25_topk" -> graft.plans.IndexTvfs.bm25TopK,
          // ...including VERSION AS OF (whole-index time travel through
          // the IndexManifest's pinned member sets)
          "ann_topk_at" -> graft.plans.IndexTvfs.annTopKAt,
          "graph_ann_at" -> graft.plans.IndexTvfs.graphAnnAt,
          "bm25_topk_at" -> graft.plans.IndexTvfs.bm25TopKAt
        ).foreach { case (name, builder) =>
          ext.injectTableFunction((
            FunctionIdentifier(name),
            new ExpressionInfo(graft.plans.GraphTvfs.getClass.getName, name),
            builder))
        }
      }
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // declared here (not only as Tables.events' defensive runtime set):
      // nanos-timestamp parquet (events.ts) reads as LONG ns
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // transformWithState (st10) needs a provider with column families —
      // only RocksDB has them; it is also the production state-store choice
      // for every other stateful operator (incremental checkpoints, no JVM
      // heap pressure from state), so it is the engine-wide default
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // managed (bucketed) tables land in tmp, never in the repo cwd;
      // per-process dir so a fresh JVM (fresh in-memory catalog) never
      // collides with a previous run's table locations; removed on exit
      .config("spark.sql.warehouse.dir",
        TempDirs.deleteOnExit(java.nio.file.Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft-warehouse-${ProcessHandle.current().pid()}")).toString)
      .config("spark.ui.enabled", "false")
      // deep Pregel fixpoints (SSSP past hundreds of hops, runaway inputs
      // hitting an iteration cap) grow RDD lineage per superstep until
      // task serialization stack-overflows; GraphX cuts it itself every N
      // supersteps when this is set — the checkpoint dir is wired in
      // [[create]] (a SparkContext property, not a conf). 100 so the
      // gate-depth runs (BFS ~10, SSSP ~25, coloring ~100 supersteps) pay
      // at most one reliable checkpoint while anything runaway-deep still
      // gets its lineage cut well before serialization blows
      .config("spark.graphx.pregel.checkpointInterval", "100")

  /** [[builder]].getOrCreate() + the context-level wiring a builder conf
    * can't express: the CHECKPOINT DIRECTORY the Pregel interval needs —
    * Spark's PeriodicCheckpointer silently skips when no dir is set
    * (verified against the shipped bytecode), so a bare builder stays
    * safe, and sessions created here actually get the lineage cuts. */
  def create(master: String = "local[*]", cores: String = "32"): SparkSession = {
    val spark = builder(master, cores).getOrCreate()
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(TempDirs.deleteOnExit(
        java.nio.file.Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft-ckpt-${ProcessHandle.current().pid()}")).toString)
    // durable named catalog (r15 verdict Next #2): with `graft.catalog
    // .root` configured, bindings committed by EARLIER sessions resolve
    // here from init on — log_register survives restarts
    graft.plans.TableRegistry.loadPersisted(spark)
    spark
  }

  def local(): SparkSession = create()
}
