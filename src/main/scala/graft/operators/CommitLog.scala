package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A minimal commit-log table layer — the Delta/Iceberg shape the engine's
  * versioned-table components (snapshot diff q28, AS OF reads q32, manifest
  * skipping f10, compaction f11) orbit, unified behind one atomic,
  * versioned, multi-writer log.
  *
  * Layout under `path`:
  *   - `_log/00000000000000000042.json` — ONE file per committed version,
  *     JSONL actions: a `commit` header line (version, op, active
  *     file/row counters) followed by `add` lines (file + min/max/rowcount
  *     stats on `statsCol`, plus optional extra-column stats) and, for
  *     DELTA entries, `remove` lines. An entry is either
  *     SNAPSHOT-COMPLETE (the full active file list — version 0, every
  *     `checkpointEvery`-th version, and every whole-table rewrite) or a
  *     DELTA against its predecessor (`"delta": true` — appends record
  *     only the new files, file-granular DML records rewritten files +
  *     removed files). Per-commit log cost is therefore O(changed files),
  *     not O(all files) — the Delta log + checkpoint shape (a streamed
  *     table at 100 TB commits per micro-batch, and a
  *     snapshot-complete-only log is O(versions × files));
  *   - `d<version>-<nonce>/…parquet` — data directories; a version's files
  *     are never mutated after commit, so every historical version stays
  *     readable (time travel) until a retention job removes unreferenced
  *     directories.
  *
  * Version resolution walks back from the asked version to the nearest
  * snapshot-complete entry (≤ `checkpointEvery` − 1 header probes, each
  * one first-line read) and folds the window's add/remove actions with
  * last-action-per-path-wins into the version's active file list, held
  * on the driver (O(files) — what the reader is handed anyway). The fold
  * runs on the driver for windows up to a few MiB of log (the Delta
  * JVM-log-replay shape); larger windows fold distributed through a
  * `max_by` aggregation and collect.
  *
  * Atomicity & concurrency: the log content is fully written to an
  * invisible `_log/.tmp-*` staging file, then published with a
  * rename-without-overwrite onto the version name — an atomic
  * create-if-absent on HDFS-semantics filesystems, and readers can never
  * observe a partially-written head. Two writers racing to the same next
  * version both stage data, but only one rename succeeds; the loser gets a
  * [[java.util.ConcurrentModificationException]] (its staged directory is
  * removed best-effort). APPENDS auto-rebase: two appends change disjoint
  * files and commute, so the loser re-resolves the head and retries
  * (bounded attempts) — Delta's automatic conflict resolution for
  * AddFile-only commits. Read-modify-write commits (merge, range DML)
  * stay single-winner and surface the conflict to the caller, whose base
  * snapshot is stale by definition. The create-if-absent primitive itself
  * is PLUGGABLE ([[LogStore]], conf `graft.log.store`): `rename` is the
  * HDFS/local default described above; object stores without atomic
  * rename plug in a conditional-PUT/coordination store instead — the
  * conflict semantics here are store-independent by the LogStore
  * contract.
  *
  * Scale shape: the log is version-count-sized, never data-sized — and
  * with delta entries each APPEND's log write is batch-sized; stats ride
  * in the log so a selective read plans from ONE small JSON read instead
  * of probing N parquet footers ([[Partitioning.writeWithManifest]]'s
  * argument, now versioned); reads hand the planner an explicit pruned
  * file list. `extraStatsCols` records per-file min/max for further
  * columns ([[prunedReadOn]] file-cuts on any of them — with one stats
  * column a user's second predicate column would get zero skipping).
  */
class CommitTable(spark: SparkSession, val path: String, statsCol: String,
                  extraStatsCols: Seq[String] = Nil,
                  checkpointEvery: Int = 10) {

  require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
  require(extraStatsCols.forall(c => c.matches("[A-Za-z0-9_]+") && c != statsCol),
    s"extraStatsCols must be simple identifiers distinct from $statsCol, got $extraStatsCols")

  import CommitTable.Rec

  private val logDir = new Path(path, "_log")
  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logFile(v: Long) = new Path(logDir, f"$v%020d.json")

  /** Committed versions, ascending (log-directory listing — version-count-sized).
    * Strictly-numeric names only: in-flight `.tmp-*` staging files and any
    * stray foreign `.json` artifact are invisible, never a parse failure.
    */
  def versions(): Seq[Long] =
    if (!fs.exists(logDir)) Seq.empty
    else fs.listStatus(logDir).map(_.getPath.getName).toSeq
      .filter(_.matches("\\d{20}\\.json")).map(_.stripSuffix(".json").toLong).sorted

  def latestVersion(): Option[Long] = versions().lastOption

  /** The latest committed version; a table with no commits has none. */
  private def head(): Long = latestVersion() match {
    case Some(v) => v
    case None => throw new IllegalStateException(s"no commits at $path")
  }

  /** First line of a version's log entry (driver read — header probes are
    * log-metadata work, never cluster jobs; Delta reads log headers the
    * same way). */
  // committed log entries are IMMUTABLE (rename-without-overwrite publish;
  // vacuum reclaims data dirs, never log files), so header lines cache
  // forever — one filesystem read per (instance, version), which is what
  // keeps snapshotBase's delta-chain walk and the protocol check free of
  // repeat I/O
  private val headerCache =
    new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** The first line of `version`'s log entry — read once, cached, and
    * PROTOCOL-CHECKED: every consumer of header information (delta
    * resolution, counters, timestamps, txn markers) funnels through here,
    * so a version written under a newer log protocol fails loudly at the
    * first touch instead of being silently mis-interpreted. */
  private def headerLine(version: Long): String = {
    val cached = headerCache.get(version)
    if (cached != null) return cached
    val f = logFile(version)
    require(fs.exists(f), s"version $version is not committed at $path")
    val in = fs.open(f)
    val h = try Option(new java.io.BufferedReader(
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      .readLine()).getOrElse("")
    finally in.close()
    val p = """"proto": (\d+)""".r.findFirstMatchIn(h).map(_.group(1).toLong).getOrElse(1L)
    require(p <= supportedProtocol,
      s"version $version at $path was written with log protocol $p; this reader " +
        s"supports <= $supportedProtocol — upgrade the library, do not " +
        "bypass (newer actions may change how the file list resolves)")
    headerCache.put(version, h)
    h
  }

  /** The highest log protocol THIS reader instance understands — the
    * value [[headerLine]]'s guard enforces. Production readers take the
    * build's [[CommitTable.SupportedProtocol]]; overridable so a spec can
    * impersonate an OLD reader deterministically and prove that a
    * feature-stamped version fails loudly instead of silently dropping
    * the stamp (returning deleted rows / physical column names). */
  protected def supportedProtocol: Long = CommitTable.SupportedProtocol

  /** Whether `version`'s entry is a DELTA against its predecessor (absent
    * marker = snapshot-complete, which also covers pre-checkpoint logs). */
  private def isDeltaEntry(version: Long): Boolean =
    headerLine(version).contains("\"delta\": true")

  /** Reject versions written under a log protocol this reader doesn't
    * know (the Delta protocol-action contract): a future writer that adds
    * a feature the resolution below can't interpret bumps `proto` in its
    * headers, and an old reader FAILS LOUDLY instead of silently
    * mis-resolving the file list — format evolution must degrade to an
    * error, never to wrong data. Pre-`proto` headers are protocol 1.
    * The check itself lives in [[headerLine]] (every header consumer
    * funnels through it, so delta-window members, counter reads, and
    * timestamp probes are all covered); this wrapper exists for call
    * sites that need the validation WITHOUT using the header content. */
  private def checkProtocol(version: Long): Unit = { headerLine(version); () }

  /** Nearest snapshot-complete version at or below `v` — the resolution
    * base. ≤ `checkpointEvery` − 1 header probes by the commit rule
    * (version 0 is always snapshot-complete). */
  private def snapshotBase(v: Long): Long = {
    var b = v
    while (b > 0 && isDeltaEntry(b)) b -= 1
    b
  }

  /** The ACTIVE file list of one committed version, resolved through the
    * delta chain: `(path, lo, hi, n, xs)` with absolute paths (`xs` is the
    * encoded extra-column stats string, possibly null), as driver data —
    * every caller either hands the paths to a reader or commits the
    * records. Snapshot-complete versions read one log file; delta
    * versions fold `[base, version]` with last-action-per-path-wins — on
    * the driver up to [[CommitTable.DriverFoldBytes]] of log (Delta's JVM
    * log replay, in [[CommitTable.driverFold]]'s file order), distributed
    * beyond it ([[CommitTable.distributedFold]]).
    */
  private def addsOf(version: Long): Seq[Rec] = {
    require(fs.exists(logFile(version)), s"version $version is not committed at $path")
    val base = snapshotBase(version)
    // the walk protocol-checked every version above the base; the base
    // itself (and a version-0 read) is checked here (cached, free)
    checkProtocol(base)
    val window = (base to version).map(logFile)
    val recs =
      if (window.map(p => fs.getFileStatus(p).getLen).sum <= CommitTable.DriverFoldBytes)
        CommitTable.driverFold(window.map(readFully))
      else CommitTable.distributedFold(spark, window.map(_.toString))
    recs.map(r => r.copy(_1 = absPath(r._1)))
  }

  /** Stored log paths are table-relative, EXCEPT shallow-clone entries,
    * which reference another table's files absolutely (the Delta
    * shallow-clone shape) and pass through unprefixed. */
  private def absPath(stored: String): String =
    if (stored.startsWith("/")) stored else s"$path/$stored"

  private def readFully(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The resolved per-file log stats of a committed version — the
    * DESCRIBE DETAIL file surface: `(path, lo, hi, n, xs)` with absolute
    * paths. Log-sized metadata (one resolution, zero data reads); what
    * instruments like [[graft.llm.KnnGraph.knnGraphLinkStats]] derive
    * commit-provenance shares from (a file's staging version rides in
    * its `d<version>-<nonce>/` directory name). */
  def fileStats(atVersion: Option[Long] = None): DataFrame = {
    import spark.implicits._
    addsOf(atVersion.getOrElse(head())).toDF("path", "lo", "hi", "n", "xs")
  }

  /** Read the table AS OF `version`: exactly that commit's file list. */
  def asOf(version: Long): DataFrame = readAt(version, addsOf(version).map(_._1))

  /** The physical scan of `files` with stamp `dvv`'s deleted rows
    * anti-joined out. mergeSchema: a file list may span commits with
    * EVOLVED schemas (an append that added a column — the Delta
    * schema-evolution-on-append shape). The merged read surfaces the
    * union schema with NULLs where a file predates a column; without it
    * Spark plans from one sampled footer and silently DROPS columns the
    * sample lacks. Cost is one footer read per file — log-sized. */
  private def scan(files: Seq[String], dvv: Option[Long]): DataFrame =
    applyDv(spark.read.option("mergeSchema", "true").parquet(files: _*), dvv)

  /** The logical read of `files` (a subset of `version`'s active list):
    * the physical scan through `version`'s deletion vector, the optional
    * `residual` filter on PHYSICAL names, then `version`'s column map.
    * An empty list projects an empty frame to the SAME logical surface
    * (an un-mapped empty result would expose old physical/dropped names
    * and break unions on the new name). */
  private def readAt(version: Long, files: Seq[String],
                     residual: Option[Column] = None): DataFrame =
    if (files.isEmpty) applyCmap(emptyLike(), cmapAt(version))
    else {
      val df = scan(files, dvVersionAt(version))
      applyCmap(residual.fold(df)(df.filter), cmapAt(version))
    }

  /** DESCRIBE HISTORY — one row per committed version: `(version, ts, op,
    * n_files, n_rows)`, derived from the log files themselves in ONE
    * distributed read (log-sized; never a loop of per-version jobs, so a
    * 100k-commit table's history is one small scan). `ts` is the commit
    * header's adjusted wall-clock (NULL for pre-timestamp logs); `n_files`
    * / `n_rows` are the version's ACTIVE totals — from the commit
    * header's counters (delta entries list only changed files, so an
    * add-line sum would misreport them); legacy pre-counter entries fall
    * back to the add-line sum, identical for snapshot-complete logs.
    */
  def history(): DataFrame = {
    val vs = versions()
    if (vs.isEmpty) throw new IllegalStateException(s"no commits at $path")
    // logs under the driver-fold byte cap parse on the driver (the
    // addsOf discipline): history is log-metadata work, and instruments
    // that snapshot it repeatedly (link-health, OPTIMIZE scheduling)
    // shouldn't pay a cluster job per probe on a small log
    val bytes = vs.map(v => fs.getFileStatus(logFile(v)).getLen).sum
    if (bytes <= CommitTable.DriverFoldBytes) {
      import spark.implicits._
      return CommitTable.driverHistory(vs.map(v => readFully(logFile(v))))
        .toDF("version", "ts", "op", "n_files", "n_rows")
    }
    val acts = spark.read.schema(CommitTable.ActionSchema)
      .json(vs.map(v => logFile(v).toString): _*)
    val heads = acts.filter(col("type") === "commit")
      .select(col("version"), col("ts"), col("op"), col("nf"), col("nr"))
    val adds = acts.filter(col("type") === "add")
      .groupBy("version").agg(count(lit(1)).as("a_files"), sum(col("n")).as("a_rows"))
    heads.join(adds, Seq("version"), "left")
      .select(col("version"), col("ts"), col("op"),
        coalesce(col("nf"), col("a_files"), lit(0L)).as("n_files"),
        coalesce(col("nr"), col("a_rows"), lit(0L)).as("n_rows"))
      .orderBy("version")
  }

  /** Read the latest committed version. */
  def read(): DataFrame = asOf(head())

  /** The commit timestamp (epoch millis) recorded in `version`'s header.
    * Monotonically non-decreasing in version by the publish-time
    * adjustment ([[publish]]); errors on versions from a pre-timestamp
    * log rather than inventing one.
    */
  def commitTs(version: Long): Long = {
    // the header is the first line of a file this layer wrote itself —
    // parsed on the driver (timestamp resolution is log-sized metadata
    // work and must not launch cluster jobs; Delta reads log headers the
    // same way); [[headerLine]] caches it and protocol-checks it
    val m = """"ts": (-?\d+)""".r.findFirstMatchIn(headerLine(version))
    require(m.isDefined, s"version $version at $path has no commit timestamp")
    m.get.group(1).toLong
  }

  /** Read the table AS OF a timestamp — Delta's `TIMESTAMP AS OF`: the
    * newest version whose (monotonically adjusted) commit timestamp is
    * `<= tsMillis`. Errors if the timestamp precedes the first commit
    * (there was no table content then), exactly like Delta. Resolution
    * cost is log-sized: one header read per version, zero data reads
    * beyond the selected snapshot.
    */
  def asOfTimestamp(tsMillis: Long): DataFrame = {
    val vs = versions()
    require(vs.nonEmpty, s"no commits at $path")
    // adjusted timestamps are non-decreasing with version, so the newest
    // qualifying version is the last one in version order
    val sel = vs.filter(v => commitTs(v) <= tsMillis).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMillis predates the first commit (ts ${commitTs(vs.head)}) at $path"))
    asOf(sel)
  }

  /** Stats-pruned read of the latest version: only files whose `[lo, hi]`
    * on `statsCol` intersects the requested range are handed to the
    * reader (observable via `.inputFiles`); the residual predicate covers
    * boundary files. f10's manifest skipping, resolved from the log: the
    * cut filters the resolved file list on the driver, like
    * [[prunedReadIn]].
    */
  def prunedRead(lo: Long, hi: Long, atVersion: Option[Long] = None): DataFrame = {
    val v = atVersion.getOrElse(head())
    readAt(v, addsOf(v).collect { case (p, flo, fhi, _, _) if fhi >= lo && flo <= hi => p },
      Some(col(statsCol) >= lo && col(statsCol) <= hi))
  }

  /** Point-set variant of [[prunedRead]]: only files whose `[lo, hi]`
    * stats window CONTAINS at least one of `points` are handed to the
    * reader. No residual predicate is applied — callers own their exact
    * filter (e.g. `cid IN (...)`); this method's job is the file-list
    * cut. The probe-side read of every cid-clustered index table
    * ([[graft.llm.Similarity.ivfTopKIndexed]] and friends). */
  def prunedReadIn(points: Seq[Long], atVersion: Option[Long] = None): DataFrame = {
    val v = atVersion.getOrElse(head())
    readAt(v, pointCut(v, points))
  }

  /** The files of `version` that may hold one of `points`: the stats
    * window cut, then per-file Bloom filters (when built —
    * [[buildBloom]]) prove point ABSENCE inside files whose stats window
    * covers a probe. */
  private def pointCut(version: Long, points: Seq[Long]): Seq[String] = {
    val pts = points.distinct
    bloomPrune(addsOf(version)
      .collect { case (p, lo, hi, _, _) if pts.exists(x => lo <= x && x <= hi) => p }, pts)
  }

  /** [[prunedReadIn]]'s rows read on the driver, with no Spark job: the
    * same stats and Bloom cut, then Spark's own parquet reader run
    * in-process on each surviving file. None — the caller takes
    * [[prunedReadIn]] — when the files' bytes exceed `budget.bytes`, the
    * version carries a deletion-vector stamp or a column map, or the
    * files' footers disagree on the schema (nullability aside). An empty
    * cut carries the schema the Spark read's empty frame has. */
  private[graft] def localReadIn(points: Seq[Long], atVersion: Option[Long] = None,
                                 budget: CommitTable.Budget = CommitTable.DriverBudget
                                ): Option[CommitTable.DriverRows] = {
    val v = atVersion.getOrElse(head())
    localRows(v, pointCut(v, points), budget)
  }

  /** The rows of version `atVersion` (the head when None) whose stats
    * column is among `points` — every row when `points` is None — as
    * driver data. Read on the driver on [[localReadIn]]'s terms, else by
    * [[prunedReadIn]] / [[asOf]] with the point membership applied in
    * Spark and one collect; both paths give the same rows and schema.
    * Past `budget.rows` rows it fails naming `site`, before the Spark path
    * keeps more than `budget.rows + 1` of them. */
  private[graft] def driverRows(points: Option[Seq[Long]], atVersion: Option[Long],
                                site: String, budget: CommitTable.Budget): CommitTable.DriverRows = {
    val v = atVersion.getOrElse(head())
    val files = points.fold(addsOf(v).map(_._1))(pointCut(v, _))
    localRows(v, files, budget) match {
      case Some(d) =>
        val rows = points.fold(d.rows) { ps =>
          val (wanted, i) = (ps.toSet, d.schema.fieldIndex(statsCol))
          d.rows.filter(r => !r.isNullAt(i) && wanted(r.getLong(i)))
        }
        budget.requireRows(site, rows.size)
        d.copy(rows = rows)
      case None =>
        val df = readAt(v, files)
        CommitTable.collectWithin(points.fold(df) { ps =>
          import spark.implicits._
          // the stats column's logical name under the version's column map
          val key = cmapAt(v).flatMap(_.cols.collectFirst { case (l, `statsCol`) => l }).getOrElse(statsCol)
          val pts = ps.distinct.toDF("__point")
          df.join(broadcast(pts), df(key) === pts("__point"), "left_semi")
        }, site, budget)
    }
  }

  /** The rows of `files` of `version` decoded on the driver within
    * `budget.bytes` (see [[localReadIn]]); an empty list reads no rows
    * and takes [[emptyLike]]'s schema from that file's footer. */
  private def localRows(version: Long, files: Seq[String],
                        budget: CommitTable.Budget): Option[CommitTable.DriverRows] =
    if (dvVersionAt(version).isDefined || cmapAt(version).isDefined) None
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val sized = files.map { f =>
        val p = new Path(f)
        (f, p.getFileSystem(conf).getFileStatus(p).getLen)
      }
      if (sized.map(_._2).sum > budget.bytes) None
      else footerSchema(if (files.isEmpty) schemaFile().toSeq else files)
        .map(schema => CommitTable.DriverRows(schema, driverParquet(schema, sized)))
    }

  /** Spark's per-file parquet read function by schema, and each data
    * file's footer schema, kept per table instance (a walk's instances live
    * one search, and data files are immutable): building a read function
    * serializes the session's Hadoop configuration into a broadcast, and
    * a walk re-reads the same files every hop — both cost more than
    * decoding a small file. */
  private val parquetReaders = new java.util.concurrent.ConcurrentHashMap[StructType,
    org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow]]()
  private val footerSchemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The one schema of `files`' footers, nullability aside (a file read
    * surfaces every column nullable); None when they differ — the
    * caller's merged-schema read handles that — or there is no file. */
  private def footerSchema(files: Seq[String]): Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val converter = new ParquetToSparkSchemaConverter(new ParquetFileFormat().getSqlConf(spark))
    Some(files.map { f =>
      footerSchemas.computeIfAbsent(f, _ => {
        val p = new Path(f)
        org.apache.spark.sql.graftbridge.Bridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(p,
            org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, p)), converter))
      })
    }.distinct).collect { case Seq(one) => one }
  }

  /** The rows of `files` (path, byte length), all of `schema`, decoded on
    * the driver by Spark's parquet reader — the function a scan task runs
    * per file. */
  private def driverParquet(schema: StructType,
                            files: Seq[(String, Long)]): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val fmt = new ParquetFileFormat()
    val read = parquetReaders.computeIfAbsent(schema, s =>
      fmt.buildReaderWithPartitionValues(spark, s, new StructType(), s, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), fmt.getHadoopConf(spark)))
    files.flatMap { case (f, len) =>
      read(PartitionedFile(org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(f), 0L, len, Array.empty[String], 0L, len,
        Map.empty)).map(_.copy()).toVector
    }
  }

  /** [[prunedRead]] on ANY declared stats column: only files whose
    * committed `[lo, hi]` window on `colName` (recorded at write time via
    * `extraStatsCols`) intersects the range are handed to the reader;
    * files with NO recorded stats for the column — an all-NULL slice, or
    * a file committed before the column was declared — always survive,
    * so the cut only ever strengthens. The residual predicate covers
    * boundary files. The primary column delegates to [[prunedRead]]
    * (same contract, log min/max fields instead of the xs encoding).
    */
  def prunedReadOn(colName: String, lo: Long, hi: Long,
                   atVersion: Option[Long] = None): DataFrame = {
    if (colName == statsCol) return prunedRead(lo, hi, atVersion)
    require(colName.matches("[A-Za-z0-9_]+"), s"bad stats column name $colName")
    val v = atVersion.getOrElse(head())
    val files = addsOf(v).filter { r =>
      CommitTable.parseXs(r._5).get(colName) match {
        case Some((flo, fhi)) => fhi >= lo && flo <= hi
        case None => true // no stats → must read
      }
    }.map(_._1)
    readAt(v, files, Some(col(colName) >= lo && col(colName) <= hi))
  }

  // ----- per-file Bloom filters (f23) -------------------------------------
  //
  // The log's min/max stats prune RANGES; they are blind to point lookups
  // over files whose key windows overlap (interleaved appends, post-merge
  // layouts). A per-file Bloom filter is the Delta/Iceberg answer: a
  // per-file fingerprint that PROVES absence for a point — false
  // positives only cost an extra file read, false negatives cannot
  // happen (every non-NULL key sets all K bits; a NULL key registers
  // nothing and can never equal a probe point). Files are immutable, so a
  // bloom is a forever-valid per-file fact: the `_bloom` sidecar (itself a
  // commit-log table, atomic and versioned) accumulates `(file, word,
  // bits)` rows keyed by the globally-unique file NAME, and carried files
  // never recompute. Vacuum cannot touch it (it only reclaims
  // `d<ver>-<nonce>` data directories).
  //
  // SIZING: a fixed 8192-bit filter saturates (fpp → 1)
  // past a few thousand distinct keys while its build/read cost remains,
  // so the filter is sized PER FILE from the log's committed rowcount n:
  // the smallest power of two ≥ 16·n bits (K=4 ⇒ fpp ≈ 0.24%), floored
  // at 8192 and capped at 2^18 bits (4096 words — the sidecar stays
  // driver-cheap). Files whose n exceeds the cap's useful capacity
  // (16·n > 2^18, i.e. n > 16384 rows) get NO filter — they are marked
  // done and always survive pruning, loudly honest rather than silently
  // saturated; at such sizes the right tool is a narrower file layout
  // ([[compactClustered]]) or parquet's own row-group blooms. Every
  // processed file also carries a SENTINEL row (word = -1, bits = filter
  // size in bits; 0 = marked-no-filter), which (a) records the per-file
  // geometry for the probe side and (b) marks all-NULL-key files as done
  // — without it they produced zero word rows and were re-scanned on
  // every build call (broken idempotence).

  private def bloomTable = new CommitTable(spark, s"$path/_bloom", "word")
  private val BloomLegacyBits = 8192L // pre-sentinel sidecars were fixed-size
  private val BloomMaxBits = 1L << 18
  private val BloomK = 4
  private val BloomSentinel = -1L

  /** Smallest power-of-two ≥ 16·n in [8192, 2^18]; 0 when n exceeds the
    * cap's useful capacity (no filter built). n is the file's committed
    * ROW count — an upper bound on distinct keys, so sizing from it only
    * ever over-provisions. */
  private def bloomBitsFor(n: Long): Long = {
    if (16L * n > BloomMaxBits) return 0L
    var b = BloomLegacyBits
    while (b < 16L * n) b <<= 1
    b
  }

  /** Kirsch–Mitzenmacher double hashing off ONE 60-bit fingerprint (the
    * engine's md5-derived [[graft.functions.Hashing.hash60]] of the key's
    * decimal form — overflow-free under ANSI arithmetic, and the driver
    * twin is bit-identical by construction): probe i sits at
    * (h₁ + i·h₂) mod bits with h₁ the low bits, h₂ drawn from bit 13 up
    * and forced odd (odd step ⇒ full cycle for a power-of-two modulus).
    */
  private def bloomPos(h: Long, i: Int, bits: Long): Long =
    (h % bits + i * (((h >> 13) % bits) | 1L)) % bits
  private def bloomPosExpr(h: Column, i: Int, bits: Long): Column =
    pmod(pmod(h, lit(bits)) +
      lit(i.toLong) * pmod(shiftright(h, 13), lit(bits)).bitwiseOR(lit(1L)),
      lit(bits))

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Computes per-file Bloom filters over `statsCol` for every file of
    * `atVersion` (head by default) not yet in the sidecar, and commits
    * them to `_bloom`. One scan of exactly the new files per filter-size
    * group (grouped by [[org.apache.spark.sql.functions.input_file_name]]);
    * ≤ 4096 words + 1 sentinel per file reach the sidecar, nothing
    * corpus-sized reaches the driver. An explicit maintenance action like
    * [[compact]] — run it after appends whose key ranges interleave, then
    * [[prunedReadIn]] point reads skip proven-absent files automatically.
    * Returns the count of newly processed files — including
    * beyond-capacity files, which are marked done without a filter — so
    * 0 means every file already carries a sidecar entry (idempotent). */
  def buildBloom(atVersion: Option[Long] = None): Long = {
    val adds = addsOf(atVersion.getOrElse(head())).map(r => (r._1, r._4))
    val bt = bloomTable
    val have: Set[String] =
      if (bt.latestVersion().isEmpty) Set.empty
      else bt.read().select("file").distinct().collect().map(_.getString(0)).toSet
    val todo = adds.filterNot { case (f, _) => have.contains(fileName(f)) }
    if (todo.isEmpty) return 0L
    import spark.implicits._
    // one build pass per filter size (≤ 6 distinct sizes by construction);
    // beyond-capacity files (bits = 0) contribute sentinel rows only
    val byBits = todo.groupBy { case (_, n) => bloomBitsFor(n) }
    val parts = byBits.toSeq.sortBy(_._1).map { case (bits, group) =>
      val sentinels = group.map { case (f, _) => (fileName(f), BloomSentinel, bits) }
        .toSeq.toDF("file", "word", "bits")
      if (bits == 0L) sentinels
      else {
        val src = scan(group.map(_._1), None)
          .select(element_at(split(input_file_name(), "/"), -1).as("file"),
            col(statsCol).cast("long").as("x"))
          .filter(col("x").isNotNull)
          .select(col("file"),
            graft.functions.Hashing.hash60(col("x").cast("string")).as("h"))
        val words = src
          .select(col("file"),
            explode(array((0 until BloomK).map(i =>
              bloomPosExpr(col("h"), i, bits)): _*)).as("pos"))
          .distinct() // map-side combine collapses repeated keys before the shuffle
          .select(col("file"), expr("pos DIV 64").as("word"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("bit"))
          .groupBy("file", "word").agg(expr("bit_or(bit)").as("bits"))
          .select("file", "word", "bits")
        words.unionByName(sentinels)
      }
    }
    val rows = parts.reduce(_ unionByName _)
    if (bt.latestVersion().isEmpty) bt.overwrite(rows.coalesce(1))
    else bt.append(rows.coalesce(1))
    todo.length.toLong
  }

  /** Drops candidate files whose committed Bloom filter proves NO probe
    * point is present. Files without a bloom (no sidecar, no entry, or a
    * marked-no-filter sentinel) always survive — the filter only ever
    * strengthens the stats cut, never weakens it. Driver cost:
    * candidate-files × ≤ 4096 sidecar rows, the [[addsOf]] scale. */
  private def bloomPrune(files: Seq[String], pts: Seq[Long]): Seq[String] = {
    if (files.isEmpty || pts.isEmpty) return files
    if (!fs.exists(new Path(s"$path/_bloom/_log"))) return files
    val bt = bloomTable
    if (bt.latestVersion().isEmpty) return files
    val names = files.map(fileName)
    val blooms: Map[String, Map[Long, Long]] = bt.read()
      .filter(col("file").isin(names: _*))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (f, rs) => f -> rs.map(t => t._2 -> t._3).toMap }
    val hashes = pts.distinct.map(x => graft.functions.Hashing.hash60(x.toString))
    // probe positions depend on each file's own filter size — computed per
    // distinct size across the candidate set (driver arithmetic)
    val probesFor = scala.collection.mutable.Map.empty[Long, Seq[Seq[Long]]]
    files.filter { f =>
      blooms.get(fileName(f)) match {
        case None => true
        case Some(words) =>
          // sentinel carries the geometry; its absence means a legacy
          // fixed-size sidecar entry. bits = 0 ⇒ marked, no filter.
          val bits = words.get(BloomSentinel) match {
            case Some(b) => b
            case None => BloomLegacyBits
          }
          if (bits == 0L) true
          else {
            val probes = probesFor.getOrElseUpdate(bits,
              hashes.map(h => (0 until BloomK).map(i => bloomPos(h, i, bits))))
            probes.exists(ps => ps.forall(p =>
              (words.getOrElse(p / 64, 0L) & (1L << (p % 64).toInt)) != 0L))
          }
      }
    }
  }

  // ----- deletion vectors (f27) -------------------------------------------
  //
  // deleteRange/updateRange rewrite every predicate-intersecting FILE —
  // row-granular deletes pay file-granular IO. The
  // Delta answer is a DELETION VECTOR: mark deleted row POSITIONS in a
  // sidecar, let every read anti-join them out, and defer the physical
  // rewrite to OPTIMIZE. Here the sidecar is the engine's own medicine —
  // `_dv/`, a commit-log table of `(file, pos)` rows (file = globally
  // unique staged-file NAME, pos = parquet row index via
  // `_metadata.row_index`) — and each main-table commit's header stamps
  // the EXACT sidecar version it owns (`dvv`), carried forward by every
  // non-rewriting commit.
  //
  // APPEND-DELTA sidecars (an earlier design snapshot-OVERWROTE stamped
  // ∪ new as one coalesce(1) file per DV commit, so every small delete
  // on a churn-heavy table paid O(total outstanding deletes) bytes on
  // one core): each DV commit
  // APPENDS only the newly-marked positions, and the commit's op marker
  // (`dv-delta:<priorTip>`) links it to the sidecar version it extends —
  // the same delta-chain discipline the main log uses for file lists.
  // The in-force position set at stamp `dvv` resolves as the union of
  // the chain's literal appended contents (plus a snapshot base where
  // the chain bottoms out on a legacy/consolidated snapshot version), so
  // a DELETE commits O(newly deleted) sidecar bytes regardless of churn
  // history, and the sidecar-delta CDF reads exactly the window's
  // appended versions — never an exceptAll over two full snapshots.
  // Orphan safety is the chain itself: a sidecar version whose main
  // publish lost the race (or crashed) is never any chain's member —
  // the next writer's marker points at the STAMPED tip, not the sidecar
  // head — so orphans are inert forever, exactly as before.
  // [[consolidateDv]] folds a long chain back to one snapshot version
  // (maintenance, like OPTIMIZE for the data plane); a full rewrite
  // (overwrite/merge/compact/zorder) reads through the DV — deletes
  // materialize — and resets the stamp; CoW range DML keeps it (its
  // carried files still need their vectors; entries for rewritten file
  // names go inert with the names). Cost shape: DELETE commits O(newly
  // deleted) sidecar bytes + two log entries, ZERO data-file rewrites;
  // reads pay one broadcast-sized anti-join while vectors are
  // outstanding and nothing at all once OPTIMIZE folds them in.
  //
  // Delta-encoded stamps are a READER-protocol feature (protocol 3): a
  // protocol-2 reader resolves a stamped sidecar version with overwrite
  // semantics (`asOf(dvv)` = accumulated content), which equals the
  // chain union only while no orphaned append exists — an orphan would
  // silently over-delete. [[CommitTable.protocolFor]] stamps 3 exactly
  // when the referenced sidecar version is delta-encoded, so legacy
  // snapshot-sidecar tables keep protocol 2 and plane-free tables 1.

  private lazy val dvTable = new CommitTable(spark, s"$path/_dv", "pos")

  /** The sidecar version `v` extends, parsed from its commit header's op
    * marker: Some(-1) = first link of a chain, Some(p>=0) = extends `p`,
    * None = a self-complete SNAPSHOT version (legacy overwrite-form sidecar,
    * or a [[consolidateDv]] fold) whose content is `asOf(v)` directly. */
  private def dvPriorTip(v: Long): Option[Long] =
    """"op": "dv-delta:(-?\d+)"""".r.findFirstMatchIn(dvTable.headerLine(v))
      .map(_.group(1).toLong)

  /** Whether sidecar version `v` is delta-encoded (chain member) rather
    * than a self-complete snapshot — the protocol-3 trigger. */
  private[operators] def dvIsDelta(v: Long): Boolean = dvPriorTip(v).isDefined

  /** The chain constituting stamp `dvv`: (snapshot base, delta versions
    * ascending). Walks op markers backward — version-count-bounded
    * cached header reads, zero data I/O. */
  private def dvChain(dvv: Long): (Option[Long], Seq[Long]) = {
    var v = dvv
    val deltas = scala.collection.mutable.ListBuffer.empty[Long]
    while (true) {
      dvPriorTip(v) match {
        case None => return (Some(v), deltas.toList.reverse)
        case Some(-1L) => deltas += v; return (None, deltas.toList.reverse)
        case Some(p) =>
          require(p < v, s"corrupt DV chain at $path/_dv: $v extends $p")
          deltas += v; v = p
      }
    }
    (None, Nil) // unreachable
  }

  /** The positions literally APPENDED at sidecar version `v` — its own
    * staged files (named `d<v>-<nonce>/…` at commit time), regardless of
    * whether `v`'s log entry is delta or checkpoint-snapshot form.
    * Range-encoded links expand back to `(file, pos)` rows here. */
  private def dvDeltaContent(v: Long): DataFrame = {
    val own = dvTable.addsOf(v).map(_._1).filter(_.contains(s"/d$v-"))
    if (own.isEmpty) emptyDvPositions()
    else expandDvRanges(spark.read.parquet(own: _*))
  }

  /** Largest run one range row may cover: bounds the read-side
    * `sequence()` array (a 1B-position run expands through 8K-element
    * arrays, never one giant row) while keeping a contiguous delete's
    * sidecar ~4 decimal orders smaller than row-per-position. */
  private val DvMaxRun = 8192L

  /** DML marks CONTIGUOUS position runs (range deletes on clustered
    * tables, whole-file updates), so delta links store `(file, pos_lo,
    * pos_hi)` RANGE rows — range encoding: a
    * contiguous M-position delete commits O(M / 8192) sidecar rows
    * instead of M. Scattered predicates degenerate to singleton rows
    * (pos_lo = pos_hi) — parquet RLE keeps that near the plain-row
    * cost. Runs are found per file by the pos − row_number fold and
    * split at [[DvMaxRun]]-aligned block boundaries (within one run and
    * one block, positions stay consecutive, so every grouped row is a
    * true run). */
  private def compressDvRuns(pos: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("file").orderBy("pos")
    pos.select(col("file"), col("pos").cast("long").as("pos"))
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("file"), col("__grp"), expr(s"pos DIV $DvMaxRun").as("__blk"))
      .agg(min("pos").as("pos_lo"), max("pos").as("pos_hi"))
      .select("file", "pos_lo", "pos_hi")
  }

  /** `(file, pos)` rows of a sidecar part, whatever its encoding:
    * point-encoded parts (legacy links, consolidated snapshots — the
    * protocol-2-readable form) pass through; range-encoded links expand
    * via bounded `sequence()` arrays. */
  private def expandDvRanges(df: DataFrame): DataFrame =
    if (df.columns.contains("pos")) df.select("file", "pos")
    else df.select(col("file"),
      explode(expr("sequence(pos_lo, pos_hi)")).as("pos"))

  /** Sidecar planes whose chain files total at most this many on-disk
    * bytes fold onto the DRIVER once per stamp per session (the
    * [[addsOf]]/[[CommitTable.DriverFoldBytes]] discipline): their
    * in-force set embeds as a cached LOCAL relation, so every
    * subsequent scan of the DV'd table skips the per-action sidecar
    * file jobs entirely — without it a chain of N links costs N small
    * parquet reads on EVERY Spark action touching the table (DV-heavy
    * queries measured 2-3× slower from exactly this).
    * Bigger planes (a 1B-position table) keep the distributed union and
    * never materialize on the driver. Range rows are collected
    * UNEXPANDED (the compressed form), so the cap bounds driver memory
    * by on-disk bytes, not positions. */
  private val DvDriverFoldBytes = 4L << 20

  /** Stamps are immutable once committed, so the resolved in-force set
    * caches per sidecar version for the session's lifetime. */
  private val dvPosCache =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, DataFrame]()

  /** The in-force `(file, pos)` set of stamp `dvv`: the chain's snapshot
    * base (if any) unioned with each member's literal appended content.
    * Orphaned sidecar versions are never chain members, so they never
    * contribute. Small planes resolve through the driver-fold cache;
    * large ones stay distributed. */
  private def dvPositionsAt(dvv: Long): DataFrame =
    dvPosCache.computeIfAbsent(dvv, { _ =>
      val (base, deltas) = dvChain(dvv)
      val baseFiles = base.toSeq.flatMap(b => dvTable.addsOf(b).map(_._1))
      val deltaFiles = deltas.flatMap(v =>
        dvTable.addsOf(v).map(_._1).filter(_.contains(s"/d$v-")))
      val allFiles = baseFiles ++ deltaFiles
      if (allFiles.isEmpty) emptyDvPositions()
      else {
        val bytes = allFiles.map(p => fs.getFileStatus(new Path(p)).getLen).sum
        if (bytes <= DvDriverFoldBytes) {
          // one mergeSchema read spans point- and range-encoded parts;
          // normalize to ranges, collect COMPRESSED, embed locally
          val raw = scan(allFiles, None)
          val cols = raw.columns.toSet
          val norm =
            if (!cols.contains("pos"))
              raw.select(col("file"), col("pos_lo"), col("pos_hi"))
            else if (!cols.contains("pos_lo"))
              raw.select(col("file"), col("pos").cast("long").as("pos_lo"),
                col("pos").cast("long").as("pos_hi"))
            else raw.select(col("file"),
              coalesce(col("pos_lo"), col("pos").cast("long")).as("pos_lo"),
              coalesce(col("pos_hi"), col("pos").cast("long")).as("pos_hi"))
          val collected = norm.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          import spark.implicits._
          spark.createDataset(collected.toIndexedSeq)
            .toDF("file", "pos_lo", "pos_hi")
            .select(col("file"),
              explode(expr("sequence(pos_lo, pos_hi)")).as("pos"))
        } else {
          val parts = base.map(b => dvTable.asOf(b).select("file", "pos")).toSeq ++
            deltas.map(dvDeltaContent)
          parts.reduce(_ unionByName _)
        }
      }
    })

  private def emptyDvPositions(): DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq.empty[(String, Long)]).toDF("file", "pos")
  }

  /** The chain members strictly AFTER `from`'s tip on the way to `to` —
    * the literal sidecar versions a CDF window appended, ascending. None
    * when `to`'s chain does not extend `from` (a restore/reset moved the
    * stamp off the chain, or the walk bottoms out on a snapshot base
    * without meeting `from`) — callers fall back to the full-set diff. */
  private def dvChainSuffix(from: Option[Long], to: Long): Option[Seq[Long]] = {
    var v = to
    val acc = scala.collection.mutable.ListBuffer.empty[Long]
    while (true) {
      if (from.contains(v)) return Some(acc.toList.reverse)
      dvPriorTip(v) match {
        case None =>
          // snapshot base: its content is not expressible as appends
          return None
        case Some(-1L) =>
          acc += v
          return if (from.isEmpty) Some(acc.toList.reverse) else None
        case Some(p) =>
          require(p < v, s"corrupt DV chain at $path/_dv: $v extends $p")
          acc += v; v = p
      }
    }
    None // unreachable
  }

  /** The `_dv` sidecar version in force at `version` (header `dvv`,
    * carried forward since the [[deleteRangeDV]] that stamped it); None
    * = no outstanding deletion vectors. */
  def dvVersionAt(version: Long): Option[Long] =
    """"dvv": (\d+)""".r.findFirstMatchIn(headerLine(version)).map(_.group(1).toLong)

  /** Rows of stamp `dvv`'s in-force set whose file NAME is in `names` —
    * the LIVE deleted-row count over a given active file set. Sidecar
    * entries for names no longer active (a CoW rewrite replaced the
    * file, carrying the stamp) are inert and must not count: they would
    * overstate [[dvOutstanding]] (triggering needless OPTIMIZE runs) and
    * understate rolled-forward `n_rows` counters. The per-file grouped
    * collect is O(distinct files carrying deletes) — sidecar-sized,
    * never data-sized. */
  private def dvNetCount(dvv: Long, names: Set[String]): Long =
    dvPositionsAt(dvv).groupBy("file").count().collect()
      .filter(r => names.contains(r.getString(0))).map(_.getLong(1)).sum

  /** Outstanding deleted-row count at the head (0 = none): the
    * OPTIMIZE-scheduling instrument. Counts only vector entries whose
    * file is still ACTIVE at the head — entries made inert by CoW
    * rewrites (the rewrite materialized their deletes under a new file
    * name) no longer schedule compactions. */
  def dvOutstanding(): Long =
    latestVersion().map { head =>
      dvVersionAt(head) match {
        case None => 0L
        case Some(v) =>
          dvNetCount(v, addsOf(head).map(r => fileName(r._1)).toSet)
      }
    }.getOrElse(0L)

  /** Anti-joins the stamped deletion vector out of a freshly-scanned
    * DataFrame (must be called on the raw scan — `_metadata` is a
    * scan-relation column). No stamp ⇒ the input passes through
    * untouched, so DV-free tables pay nothing. */
  private def applyDv(df: DataFrame, dvv: Option[Long]): DataFrame = dvv match {
    case None => df
    case Some(v) =>
      val dv = dvPositionsAt(v).select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
      df.withColumn("__file", element_at(split(col("_metadata.file_path"), "/"), -1))
        .withColumn("__pos", col("_metadata.row_index"))
        // O(outstanding-deletes)-sized build side; AQE broadcasts it
        .join(dv, col("__file") === col("__dv_file") && col("__pos") === col("__dv_pos"),
          "left_anti")
        .drop("__file", "__pos")
  }

  /** `DELETE WHERE statsCol BETWEEN lo AND hi` as a DELETION-VECTOR
    * commit — O(NEWLY deleted) bytes, ZERO data-file rewrites (the
    * head's file list is unchanged; only row positions are marked):
    * computes the matching `(file, pos)` positions from exactly the
    * stats-intersecting files (already-deleted rows excluded — the read
    * applies the current vector), APPENDS them as a sidecar chain link
    * extending the stamped tip, and publishes a metadata-only main
    * commit stamping the new sidecar version.
    * NULL-safe like [[deleteRange]] (NULL keys match no range).
    * Single-winner (read-modify-write of row state); a lost race leaves
    * only an inert, never-stamped sidecar version. Old versions time-
    * travel exactly (each header stamps its own vector state). Rewrites
    * are deferred to [[compact]]/[[compactClustered]]/[[optimizeZorder]],
    * which materialize the deletes and clear the stamp. The stats cut
    * filters the resolved file list on the driver, like [[prunedReadIn]].
    */
  def deleteRangeDV(lo: Long, hi: Long): Long = {
    require(lo <= hi, s"deleteRangeDV: lo $lo must be <= hi $hi")
    val base = head()
    val touched = addsOf(base).collect { case (p, flo, fhi, _, _) if fhi >= lo && flo <= hi => p }
    if (touched.isEmpty) return base
    val k = col(statsCol).cast("long")
    val newPos = scan(touched, dvVersionAt(base))
      .filter(k.isNotNull && k >= lo && k <= hi)
      .select(element_at(split(col("_metadata.file_path"), "/"), -1).as("file"),
        col("_metadata.row_index").as("pos"))
    commitDvSnapshot(base, newPos)
  }

  // ----- column mapping (f28) ---------------------------------------------
  //
  // RENAME/DROP COLUMN as METADATA-ONLY commits (without them schema
  // evolution was widen-only; renaming or dropping a column meant
  // rewriting every data file): the commit header carries a
  // logical→physical name map (`cmap`, carried forward like `inv`/`dvv`).
  // Data files ALWAYS store physical names — the names at first write —
  // so a rename touches one log entry and zero data bytes; reads project
  // physical→logical through the map of the version being read, so old
  // versions keep their old names verbatim. Writes take LOGICAL columns
  // (the [[commitVersion]] contract) and stage physically, keeping every
  // file uniform. DROP retires the physical slot: the name can never be
  // re-bound (old files still hold its data, and resurrecting it through
  // a fresh logical column would leak deleted-column values — Delta
  // solves this with column ids; the retired list is the equivalent).
  // The storage keys stay PHYSICAL by contract: `statsCol`,
  // `extraStatsCols`, and the pruning API address the physical layer
  // (they are the table's clustering identity, not its read surface).

  /** The head's logical→physical column map (None = identity surface,
    * no renames/drops ever). */
  def columnMapping(): Option[Seq[(String, String)]] =
    latestVersion().flatMap(v => CommitTable.decodeCmap(headerLine(v))).map(_.cols)

  private def cmapAt(version: Long): Option[ColumnMap] =
    cmapCache.computeIfAbsent(version, v => CommitTable.decodeCmap(headerLine(v)))

  /** Projects a physically-named scan to `version`'s logical surface.
    * Map entries whose physical column is absent from the scan (a column
    * added in a later version) are skipped — matching the mergeSchema
    * surface. No map ⇒ pass-through. */
  private def applyCmap(df: DataFrame, cm: Option[ColumnMap]): DataFrame = cm match {
    case None => df
    case Some(m) =>
      val have = df.columns.toSet
      df.select(m.cols.collect {
        case (l, p) if have.contains(p) => col(p).as(l) }: _*)
  }

  /** The map in force before a metadata edit: the committed one, or the
    * identity map synthesized from the head's PHYSICAL schema. */
  private def cmapOrIdentity(head: Long): ColumnMap =
    cmapAt(head).getOrElse {
      val files = addsOf(head).map(_._1)
      require(files.nonEmpty, s"cannot derive a column map for empty table $path")
      val phys = scan(files, None).schema.fieldNames.toSeq
      ColumnMap(phys.map(c => (c, c)), Nil)
    }

  /** RENAME COLUMN as a metadata-only commit: zero data rewritten, old
    * versions keep the old name, the head reads (and writes) the new
    * one. A declared-invariant schema and NOT NULL list are renamed
    * mechanically; a CHECK expression referencing the old name must be
    * redeclared first (SQL text cannot be rewritten reliably). */
  def renameColumn(oldName: String, newName: String): Long = {
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"renameColumn: bad column name '$newName'")
    val head = this.head()
    val cm = cmapOrIdentity(head)
    require(cm.cols.exists(_._1 == oldName),
      s"renameColumn: unknown column $oldName (have ${cm.cols.map(_._1).mkString(", ")})")
    require(!cm.cols.exists(_._1 == newName),
      s"renameColumn: column $newName already exists")
    val updated = cm.copy(cols = cm.cols.map {
      case (l, p) if l == oldName => (newName, p)
      case lp => lp
    })
    publishMetadataEdit(head, "rename-column")(cmap = Some(updated),
      inv = renameInInv(invariantsAt(head), oldName, Some(newName)))
  }

  /** DROP COLUMN as a metadata-only commit: the physical slot retires
    * (old versions keep reading it; the name can never be re-bound).
    * The stats column's logical cannot drop — it is the table's
    * clustering identity. */
  def dropColumn(name: String): Long = {
    val head = this.head()
    val cm = cmapOrIdentity(head)
    val entry = cm.cols.find(_._1 == name).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn: unknown column $name (have ${cm.cols.map(_._1).mkString(", ")})"))
    require(entry._2 != statsCol,
      s"dropColumn: $name is the table's stats/clustering column — not droppable")
    val updated = ColumnMap(cm.cols.filterNot(_._1 == name), cm.retired :+ entry._2)
    publishMetadataEdit(head, "drop-column")(cmap = Some(updated),
      inv = renameInInv(invariantsAt(head), name, None))
  }

  /** Renames (`to = Some`) or drops (`to = None`) a column inside the
    * declared invariants; CHECK expressions referencing the column must
    * be redeclared by the caller — silently keeping them would enforce a
    * rule against a name that no longer resolves. */
  private def renameInInv(iv: Option[TableInvariants], from: String,
                          to: Option[String]): Option[TableInvariants] =
    iv.map { i =>
      val word = ("""\b""" + java.util.regex.Pattern.quote(from) + """\b""").r
      i.checks.foreach { case (n, e) =>
        require(word.findFirstIn(e).isEmpty,
          s"column $from is referenced by CHECK $n ('$e') — redeclare invariants first")
      }
      val declared = StructType.fromDDL(i.schemaDdl)
      val newFields = declared.fields.flatMap { f =>
        if (f.name != from) Some(f)
        else to.map(n => f.copy(name = n))
      }
      i.copy(schemaDdl = StructType(newFields).toDDL,
        notNull = i.notNull.flatMap(c => if (c != from) Some(c) else to.toSeq))
    }

  /** The one metadata-only publish (column edits, invariant
    * declarations, DV deletes, drop-only purges): a delta entry listing
    * only `removes` (snapshot-complete at checkpoint versions, by the
    * commit rule), counters rolled forward from the head's — less the
    * removed files, plus `nrDelta` rows — and every stamp carried unless
    * overridden. Single-winner. */
  private def publishMetadataEdit(head: Long, op: String)(
      cmap: Option[ColumnMap] = cmapAt(head),
      inv: Option[TableInvariants] = invariantsAt(head),
      dv: Option[Long] = dvVersionAt(head),
      removes: Seq[String] = Nil,
      nrDelta: Long = 0L): Long = {
    val version = versionAfter(head, op)
    val (nf, nr) = activeTotals(head)
    val ckpt = version % checkpointEvery == 0
    val removed = removes.toSet
    publish(version, op, if (ckpt) collectAdds(head).filterNot(a => removed(a._1)) else Nil,
      removes = if (ckpt) Nil else removes, delta = !ckpt,
      counters = (nf - removes.length, nr + nrDelta),
      inv = inv.map(CommitTable.encodeInv), dv = dv, cmap = cmap.map(CommitTable.encodeCmap))
  }

  /** The version a commit against `head` publishes: `head + 1`, or a
    * conflict when another writer moved the table since `head` was read. */
  private def versionAfter(head: Long, op: String): Long = {
    val version = nextVersion()
    if (version != head + 1)
      throw new java.util.ConcurrentModificationException(
        s"table $path moved from version $head during $op")
    version
  }

  /** `DELETE WHERE <predicate>` as a deletion-vector commit — the
    * arbitrary-predicate form of [[deleteRangeDV]] (Delta's DELETE takes
    * any row predicate): one scan of the head finds matching positions
    * (an arbitrary predicate cannot stats-prune — the same scan Delta
    * pays), the commit is still O(deleted) sidecar bytes with zero
    * data-file rewrites. The predicate evaluates over the LOGICAL
    * surface (post column-map); NULL evaluations match nothing (SQL
    * DELETE semantics). Same orphan-safe stamping and single-winner
    * conflict rules as the range form.
    */
  def deleteWhereDV(predicateSql: String): Long = {
    requireNoInternalCols(predicateSql, "deleteWhereDV predicate")
    val base = head()
    val files = addsOf(base).map(_._1)
    if (files.isEmpty) return base
    commitDvSnapshot(base, logicalWithPositions(files, base).filter(expr(predicateSql))
      .select(col("__dvf").as("file"), col("__dvp").as("pos")))
  }

  /** Shared tail of the DV DELETE forms (and [[mergeDV]]'s pure-delete
    * short-circuit): append the newly-marked positions as a sidecar
    * chain link, publish the metadata-only main commit stamping it.
    * `nDeletedKnown` skips the count job when the caller already has it. */
  private def commitDvSnapshot(base: Long, newPos: DataFrame, op: String = "delete-dv",
                               nDeletedKnown: Option[Long] = None): Long = {
    val nDeleted = nDeletedKnown.getOrElse(newPos.count())
    if (nDeleted == 0L) return base // provable no-op commits nothing
    val dvv = appendDvDelta(dvVersionAt(base), newPos)
    publishMetadataEdit(base, op)(dv = Some(dvv), nrDelta = -nDeleted)
  }

  /** `UPDATE SET setCol = setExprSql WHERE <predicate>` as a
    * DELETION-VECTOR commit ([[updateRange]]
    * rewrites every predicate-intersecting FILE; Delta's modern UPDATE
    * is DV-mark the old rows + append the updated ones): one scan of the
    * head finds the matching rows, their positions are marked in the
    * `_dv` sidecar and the transformed rows staged as NEW files, both
    * published in ONE atomic commit — O(changed rows) data written,
    * ZERO existing data files rewritten. The predicate and `setExprSql`
    * evaluate over the LOGICAL surface (post column-map); NULL predicate
    * evaluations match nothing (SQL UPDATE semantics); the set
    * expression casts back to the column's committed type so the schema
    * never drifts. Declared invariants run against the staged updated
    * rows inside the commit gate. Single-winner like every
    * read-modify-write commit; a lost race leaves only an inert sidecar
    * version and a cleaned staging directory. Old versions time-travel
    * exactly; OPTIMIZE materializes the marks like any DV commit.
    */
  def updateWhereDV(predicateSql: String, setCol: String, setExprSql: String): Long =
    updateWhereDV(predicateSql, Seq(setCol -> setExprSql))

  /** Multi-assignment form of [[updateWhereDV]] (SQL UPDATE sets any
    * number of columns): every assignment's expression is evaluated
    * against the PRE-update row (standard UPDATE semantics — `SET a = b,
    * b = a` swaps), each cast back to its column's committed type. */
  def updateWhereDV(predicateSql: String,
                    assignments: Seq[(String, String)]): Long = {
    require(assignments.nonEmpty, "updateWhereDV: at least one assignment")
    require(assignments.map(_._1).distinct.length == assignments.length,
      s"updateWhereDV: duplicate assignment targets in ${assignments.map(_._1)}")
    val base = head()
    val stamped = dvVersionAt(base)
    val files = addsOf(base).map(_._1)
    if (files.isEmpty) return base
    val logical = logicalWithPositions(files, base)
    // validate against the TABLE surface only: the internal position
    // columns (`__dvf`/`__dvp`) ride beside it and must never be
    // assignable or referenced — an assignment naming one would commit
    // an internal column into the table schema
    val surface = logical.columns.filterNot(_.startsWith("__dv"))
    requireNoInternalCols(predicateSql, "updateWhereDV predicate")
    assignments.foreach { case (c, e) =>
      require(surface.contains(c),
        s"updateWhereDV: column $c not in table schema ${surface.mkString(", ")}")
      requireNoInternalCols(e, s"updateWhereDV expression for $c")
    }
    val matched = logical.filter(expr(predicateSql))
    val newPos = matched.select(col("__dvf").as("file"), col("__dvp").as("pos"))
    val nMatched = newPos.count()
    if (nMatched == 0L) return base // provable no-op commits nothing
    val dvv = appendDvDelta(stamped, newPos)
    // the updated replacement rows (logical surface; commitVersion maps
    // back to physical names for staging). All assignments evaluate over
    // the PRE-update row in one projection. Lazy re-evaluation inside
    // the staging write is deterministic: it scans the base's file list
    // through the base's STAMPED vector, both fixed — the sidecar head
    // moving above plays no part.
    val setMap = assignments.toMap
    val updated = matched.select(matched.columns.collect {
      case c if setMap.contains(c) =>
        expr(setMap(c)).cast(logical.schema(c).dataType).as(c)
      case c if !c.startsWith("__dv") => col(c)
    }.toIndexedSeq: _*)
    // one atomic commit: append the updated rows, stamp the NEW sidecar
    // version, net the marked rows out of the rolled-forward counters
    commitVersion(updated, keepPrevious = true, op = "update-dv",
      expectedBase = Some(base), dvOverride = Some(Some(dvv)), nrDelta = -nMatched)
  }

  /** MERGE INTO as a DELETION-VECTOR commit — the O(changed) upsert
    * [[merge]]'s scale note defers to: every target row whose key
    * matches the change-set is DV-MARKED (replaced or deleted — either
    * way it leaves the live content), and the change-set's surviving
    * rows (non-deletes) are APPENDED, all in ONE atomic commit. Data
    * written is O(|source|); ZERO existing data files are rewritten —
    * at 100 TB an upsert of one day's changes costs one day's rows, not
    * a table rewrite ([[merge]] writes the full merged snapshot;
    * [[MergeInto.mergeCow]] rewrites touched partitions).
    *
    * Source contract is [[MergeInto.merge]]'s: columns = the target's
    * LOGICAL surface (+ the optional BOOLEAN `deleteCol`), key-unique,
    * non-null keys. With `evolveSchema = true` the source may carry NEW
    * columns beyond the target's (Delta's `WITH SCHEMA EVOLUTION`): they
    * widen the target schema in the same atomic commit — pre-merge rows
    * read them as NULL (the append-evolution semantics, f21/f26 — a
    * declared-invariants schema widens through the same gate).
    *
    * Matched-row multiplicity: all matched target rows are marked and
    * the source row lands ONCE — for key-unique targets (the merge
    * contract's shape) this is byte-equivalent to [[MergeInto.merge]];
    * a target holding duplicate keys would silently COLLAPSE them into
    * the single source row where the join-based merge emits one copy
    * per duplicate, so duplicate-key matches FAIL LOUDLY unless the
    * caller opts into the collapse with `allowDuplicateTargets = true`
    * (SCD-1 resolution). The probe is one count-vs-distinct aggregate
    * over the semi-join the merge computes anyway.
    * Single-winner (read-modify-write); no-op change-sets commit
    * nothing; pure-delete change-sets publish metadata-only (no empty
    * data staging); OPTIMIZE materializes marks as usual.
    */
  def mergeDV(source: DataFrame, keys: Seq[String],
              deleteCol: Option[String] = None,
              allowDuplicateTargets: Boolean = false,
              evolveSchema: Boolean = false): Long = {
    require(keys.nonEmpty, "mergeDV needs at least one key column")
    val base = head()
    val stamped = dvVersionAt(base)
    val files = addsOf(base).map(_._1)
    if (files.isEmpty) {
      // nothing to match against: the merge degenerates to an append of
      // the change-set's survivors (deletes have nothing to delete)
      val inserts = deleteCol match {
        case Some(d) => source.filter(!coalesce(col(d), lit(false))).drop(d)
        case None => source
      }
      if (inserts.isEmpty) return base
      return commitVersion(inserts, keepPrevious = true, op = "merge-dv",
        expectedBase = Some(base), mergeSchema = evolveSchema)
    }
    val logical = logicalWithPositions(files, base)
    val targetCols = logical.columns.filterNot(_.startsWith("__dv"))
    val srcDataCols = source.columns.filterNot(deleteCol.contains)
    if (evolveSchema)
      require(targetCols.forall(srcDataCols.contains),
        s"mergeDV(evolveSchema): source columns ${srcDataCols.sorted.mkString(",")} " +
          s"must cover the target's: ${targetCols.sorted.mkString(",")}")
    else {
      val expectedSrc = (targetCols ++ deleteCol).sorted
      require(source.columns.sorted.sameElements(expectedSrc),
        s"mergeDV: source columns ${source.columns.sorted.mkString(",")} must be " +
          s"the target's plus the delete flag: ${expectedSrc.mkString(",")} " +
          "(pass evolveSchema = true to widen the target by new source columns)")
    }
    require(keys.forall(targetCols.contains),
      s"mergeDV: keys ${keys.mkString(",")} must be target columns " +
        targetCols.mkString(","))
    // matched target positions: one semi-join against the (small by
    // contract) change-set's keys — broadcast shape, no target rewrite.
    // The same pass probes target key-uniqueness over the matched rows
    // (count vs distinct keys): N matched rows over < N distinct keys
    // means the DV merge would diverge from the join-based merge
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val matched = logical.join(broadcast(srcKeys), keys, "left_semi")
    val probe = matched.agg(count(lit(1)).as("n"),
      count_distinct(struct(keys.map(col): _*)).as("nk")).head()
    val nMatched = probe.getLong(0)
    require(allowDuplicateTargets || nMatched == probe.getLong(1),
      s"mergeDV: target holds duplicate rows for ${nMatched - probe.getLong(1)} " +
        s"matched key(s) — a DV merge collapses them to the single source row " +
        "where the join-based merge emits one copy per duplicate; pass " +
        "allowDuplicateTargets = true to opt into the collapse (SCD-1), or " +
        "deduplicate the target first")
    val newPos = matched.select(col("__dvf").as("file"), col("__dvp").as("pos"))
    val inserts = deleteCol match {
      case Some(d) => source.filter(!coalesce(col(d), lit(false))).drop(d)
      case None => source
    }
    val nInserts = inserts.count()
    if (nMatched == 0L && nInserts == 0L) return base // provable no-op
    if (nInserts == 0L)
      // pure-delete change-set: metadata-only publish — staging an empty
      // data directory would rely on empty-batch add records
      return commitDvSnapshot(base, newPos, op = "merge-dv", nDeletedKnown = Some(nMatched))
    // sidecar link only when rows were actually marked; an insert-only
    // merge carries the stamp untouched
    val dvv = if (nMatched == 0L) stamped
              else Some(appendDvDelta(stamped, newPos))
    commitVersion(inserts, keepPrevious = true, op = "merge-dv",
      expectedBase = Some(base), dvOverride = Some(dvv), nrDelta = -nMatched,
      mergeSchema = evolveSchema)
  }

  /** Rejects SQL text referencing the internal sidecar position columns
    * — they ride beside the logical surface during DV DML and a
    * predicate/expression resolving them would silently address
    * physical row positions. */
  private def requireNoInternalCols(sql: String, what: String): Unit =
    require("""(?i)\b__dv[fp]\b""".r.findFirstIn(sql).isEmpty,
      s"$what must not reference internal columns (__dvf/__dvp): $sql")

  /** The logical read of `files` at `version` with sidecar position
    * columns (`__dvf`, `__dvp`) riding BESIDE the logical projection
    * (applyCmap would drop them) — the shared front half of every
    * DV-writing DML form. The internal names are collision-proof (a
    * table may own columns named `file`/`pos`); callers rename them to
    * the sidecar schema at the very end. */
  private def logicalWithPositions(files: Seq[String], version: Long): DataFrame = {
    val df = scan(files, dvVersionAt(version))
    val posCols = Seq(
      element_at(split(col("_metadata.file_path"), "/"), -1).as("__dvf"),
      col("_metadata.row_index").as("__dvp"))
    cmapAt(version) match {
      case None => df.select(posCols ++ df.columns.map(c => col(c)): _*)
      case Some(m) =>
        val have = df.columns.toSet
        df.select(posCols ++ m.cols.collect {
          case (l, p) if have.contains(p) => col(p).as(l) }: _*)
    }
  }

  // the same sidecar path under the RANGE write schema (`pos_lo` is the
  // stats column of range-encoded link files; the point-encoded
  // consolidation snapshots keep writing through [[dvTable]]) — stats
  // columns are a write-time property, resolution never prunes on them
  private lazy val dvDeltaTable = new CommitTable(spark, s"$path/_dv", "pos_lo")

  /** Appends ONLY the newly-marked positions as a new sidecar chain link
    * whose op marker records the STAMPED tip it extends (never the
    * sidecar head — the orphan-safety discipline, now structural: an
    * unstamped version is simply never any chain's member), RANGE-
    * compressed ([[compressDvRuns]] — a contiguous delete's link is
    * O(positions / 8192) rows). O(newly deleted) bytes per commit
    * regardless of churn history. Auto-rebases
    * like any append: concurrent sidecar links commute at the sidecar
    * level; the MAIN publish stays single-winner.
    *
    * BOUNDED CHAIN: when the stamped tip's chain has reached
    * `checkpointEvery` links, this commit writes a self-complete
    * SNAPSHOT version (prior in-force set ∪ new positions,
    * point-encoded) instead of a delta link — the sidecar's automatic
    * checkpoint, same amortized discipline as the main log's every-Nth
    * snapshot entry: chain length (and so per-scan resolution reads)
    * stays ≤ `checkpointEvery` + 1 forever, at an O(outstanding) fold
    * paid once per `checkpointEvery` DV commits, not per commit. The
    * fold drops the reader protocol back to 2 for the folded stamp
    * (snapshot sidecars resolve with overwrite semantics); a CDF window
    * CROSSING the fold loses the literal-chain-suffix path and takes
    * the documented full-set-diff fallback — the same trade a main-log
    * checkpoint makes, bounded to one window per `checkpointEvery`
    * commits. [[consolidateDv]] stays the explicit any-time fold. */
  private def appendDvDelta(stamped: Option[Long], newPos: DataFrame): Long = {
    val chainLen = stamped.map(s => dvChain(s)._2.length).getOrElse(0)
    if (chainLen >= checkpointEvery)
      rebaseOnConflict(5)(dvTable.overwrite(
        dvPositionsAt(stamped.get)
          .unionByName(newPos.select(col("file"), col("pos").cast("long").as("pos")))
          .coalesce(1)))
    else
      rebaseOnConflict(5)(
        dvDeltaTable.commitVersion(compressDvRuns(newPos).coalesce(1),
          keepPrevious = true, op = s"dv-delta:${stamped.getOrElse(-1L)}"))
  }

  /** Folds the head's stamped DV chain back to ONE self-complete sidecar
    * snapshot version and re-stamps it in a metadata-only main commit —
    * the sidecar's OPTIMIZE: chains grow one link per DV commit, and a
    * long-lived churn-heavy table folds them periodically so resolution
    * stays a handful of file reads (a full data OPTIMIZE resets the
    * stamp entirely and is the stronger fold). Returns the new main
    * version, or the head when there is nothing to fold (no stamp, or
    * the stamp is already a single snapshot). Single-winner. */
  def consolidateDv(): Long = {
    val head = this.head()
    dvVersionAt(head) match {
      case None => head
      case Some(stamped) =>
        val (base, deltas) = dvChain(stamped)
        if (deltas.isEmpty && base.isDefined) return head // already one snapshot
        val dvv = dvTable.overwrite(dvPositionsAt(stamped).coalesce(1))
        val version = versionAfter(head, "consolidate-dv")
        // SNAPSHOT-COMPLETE by design (the restore discipline): the fold
        // exists to make the stamp protocol-2-readable again, and a delta
        // entry's resolution window would still cross the protocol-3
        // chain commits behind it — re-listing the actives (log-sized)
        // makes this version resolve standalone
        publish(version, "consolidate-dv", collectAdds(head), removes = Nil,
          delta = false, counters = activeTotals(head),
          inv = invariantsAt(head).map(CommitTable.encodeInv), dv = Some(dvv),
          cmap = cmapAt(head).map(CommitTable.encodeCmap))
    }
  }

  /** Selective DV MATERIALIZATION (Delta's `REORG TABLE … APPLY
    * (PURGE)`): rewrites ONLY the active files whose deleted-row
    * fraction is at least `minDeletedFraction` (0.0 = every file
    * carrying a live delete), carries every clean file untouched, and
    * re-stamps the sidecar with just the surviving entries — the
    * targeted maintenance between "leave vectors outstanding" (reads
    * keep paying the anti-join) and a full [[compact]] (which rewrites
    * the WHOLE table to fold a few dirty files). Cost is O(dirty files
    * read+rewritten) + O(surviving entries re-snapshotted), never
    * O(table) — at 100 TB a churn-heavy table purges its handful of
    * delete-dense files without touching the cold petabytes. A purge
    * that rewrites every vectored file CLEARS the stamp entirely (the
    * DV plane resets; the reader protocol drops with it); a file whose
    * rows are ALL deleted is simply dropped, with no empty staging.
    * Old versions time-travel exactly (their stamps still resolve the
    * original files, which remain on disk until vacuum). Single-winner
    * with auto-rebase; the base is pinned so an interleaved append can
    * never be erased ([[compact]]'s lost-update discipline). Returns
    * the new version, or the head when no file crosses the threshold.
    */
  def purgeDv(minDeletedFraction: Double = 0.0): Long = {
    require(minDeletedFraction >= 0.0 && minDeletedFraction <= 1.0,
      s"purgeDv: minDeletedFraction must be in [0, 1], got $minDeletedFraction")
    rebaseOnConflict(3) {
      val base = head()
      dvVersionAt(base) match {
        case None => base
        case Some(stamped) =>
          val recs = addsOf(base)
          val activeNames = recs.map(r => fileName(r._1)).toSet
          // per-file LIVE deleted counts: entries on inactive names are
          // inert (a prior CoW rewrite already materialized them) and
          // must neither select a file nor survive into the new stamp.
          // Sidecar-sized driver metadata, like every file-list collect.
          val del = dvPositionsAt(stamped).groupBy("file").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
            .filter { case (f, _) => activeNames.contains(f) }
          val (dirty, clean) = recs.partition { r =>
            val d = del.getOrElse(fileName(r._1), 0L)
            d > 0L && d.toDouble >= minDeletedFraction * r._4
          }
          if (dirty.isEmpty) base
          else {
            val dirtyNames = dirty.map(r => fileName(r._1)).toSet
            // surviving entries (live, on files NOT rewritten) fold to
            // one point-encoded snapshot — protocol-2-readable, and the
            // trimmed stamp no longer resolves the rewritten files'
            // (now inert) positions on every scan
            val survivorNames = del.keys.filterNot(dirtyNames).toSeq
            val newStamp: Option[Long] =
              if (survivorNames.isEmpty) None
              else Some(dvTable.overwrite(dvPositionsAt(stamped)
                .filter(col("file").isin(survivorNames: _*)).coalesce(1)))
            if (dirty.forall(r => r._4 == del(fileName(r._1))))
              // every row of every dirty file is deleted: the commit just
              // drops the files — no empty staging (never rely on an
              // empty batch producing add records). The head's row
              // counter already nets those rows out.
              publishMetadataEdit(base, "purge-dv")(dv = newStamp,
                removes = dirty.map(r => storedForm(r._1)))
            else
              // the dirty files' LIVE rows, read through the stamped
              // vector (their deletes materialize in the rewrite) and
              // projected to the logical surface; the clean files carry
              rewriteTouched(base, "purge-dv", dirty, clean, dvOverride = Some(newStamp))(identity)
          }
      }
    }
  }

  private def emptyLike(): DataFrame = schemaFile() match {
    case Some(f) => spark.read.parquet(f).limit(0)
    case None => throw new IllegalStateException(s"empty table $path has no readable schema")
  }

  /** The file an empty read takes its schema from: the first of the
    * newest non-empty committed file list; None for a table with zero
    * commits or files, which has no schema to offer. */
  private def schemaFile(): Option[String] =
    versions().reverseIterator.map(v => addsOf(v).map(_._1)).find(_.nonEmpty).map(_.head)

  /** Change-data-feed between two committed versions, resolved THROUGH the
    * log: multiset row diff of `asOf(from)` → `asOf(to)`, tagged
    * `change_type` = 'insert' (rows present in `to` but not `from`) or
    * 'delete' (the reverse). `exceptAll` keeps duplicate-row multiplicity —
    * a row appearing twice in `to` and once in `from` yields exactly one
    * insert. This is q28's snapshot-diff semantics bound to the commit log:
    * the versions are real committed file lists, not a version column.
    *
    * Scale shape: the diff touches ONLY the files the two versions do NOT
    * share. Files are immutable, so a path in both add lists contributes
    * identical row counts to both sides and cancels EXACTLY in the
    * multiset algebra (`max(count_after − count_before, 0)` per row is
    * unchanged by dropping equal contributions) — the file-list
    * intersection is log-sized driver arithmetic, and the row diff is
    * O(changed data), never O(table). An append step's CDF is therefore a
    * plain read of its new files (no shuffle at all); file-granular DML
    * diffs rewritten-vs-removed files; only a window crossing a
    * compaction (same content, new paths) pays a changed-file-sized
    * `exceptAll`, whose cross-side duplicates then cancel row-wise.
    */
  def changesBetween(from: Long, to: Long): DataFrame = {
    // Delta's table_changes rejects a reversed range too: silently
    // swapping the window would return deletes tagged 'insert' and
    // corrupt any CDC replica that applies them
    require(from <= to, s"changesBetween: from ($from) must be <= to ($to)")
    val dvFrom = dvVersionAt(from)
    val dvTo = dvVersionAt(to)
    // a window whose DELETION-VECTOR stamp moved changes row content
    // inside files both versions SHARE, so the shared-file cancellation
    // below no longer holds. But a DV commit changes NOTHING except
    // sidecar positions — the exact changed rows are recoverable from
    // the sidecar DELTA joined back to their files: O(deleted in the
    // window), never O(window content). [[changesAcrossDv]] composes
    // that position-delta with the ordinary file diff for mixed windows
    // (a full-snapshot exceptAll fallback would make one DV delete on a
    // 100 TB source diff the whole table in every streamed-maintenance
    // loop). Equal stamps keep this
    // path: identical files carry identical vectors and cancel exactly.
    if (dvFrom != dvTo) return changesAcrossDv(from, to, dvFrom, dvTo)
    val beforeFiles = addsOf(from).map(_._1).toSet
    val afterFiles = addsOf(to).map(_._1).toSet
    val beforeOnly = (beforeFiles -- afterFiles).toSeq.sorted
    val afterOnly = (afterFiles -- beforeFiles).toSeq.sorted
    val cmapTo = cmapAt(to)
    if (beforeOnly.isEmpty && afterOnly.isEmpty)
      return applyCmap(emptyLike(), cmapTo).withColumn("change_type", lit("insert"))
    // ONE window-union schema for every branch (schema evolution inside
    // the window): each side is aligned to it with NULL-fill, the asOf
    // merge semantics — so insert and delete halves always union, and a
    // single-sided window never emits a narrower schema than the mixed
    // one would (the diff itself stays O(changed files), never O(table))
    val ref = scan(beforeOnly ++ afterOnly, None).schema
    def aligned(ps: Seq[String]): DataFrame = {
      // equal-stamp windows: the shared vector applies to both sides'
      // changed-file reads (dvFrom == dvTo here by the branch above)
      val df = scan(ps, dvFrom)
      // both sides align to the window-union PHYSICAL schema, then
      // project through the TO version's map — one consistent logical
      // surface for the whole diff (rename-only windows still cancel
      // shared files: the cut happened at the file-list level above)
      applyCmap(ref.fields.foldLeft(df) { (d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(ref.fieldNames.map(col).toSeq: _*), cmapTo)
    }
    if (beforeOnly.isEmpty)
      aligned(afterOnly).withColumn("change_type", lit("insert"))
    else if (afterOnly.isEmpty)
      aligned(beforeOnly).withColumn("change_type", lit("delete"))
    else {
      val b = aligned(beforeOnly)
      val a = aligned(afterOnly)
      a.exceptAll(b).withColumn("change_type", lit("insert"))
        .unionByName(b.exceptAll(a).withColumn("change_type", lit("delete")))
    }
  }

  /** [[changesBetween]] for windows whose deletion-vector stamp MOVED —
    * the sidecar-delta CDF: instead of a full
    * multiset diff of the two snapshots, the changed rows are composed
    * from
    *  - the sidecar POSITION delta restricted to files both versions
    *    share: positions in `to`'s vector but not `from`'s are deletes,
    *    the reverse (a RESTORE to an older stamp) are inserts — each
    *    fetched by reading ONLY the files the delta names and
    *    position-joining against the delta (O(deleted in window));
    *  - the ordinary file-list diff: before-only files (read through
    *    `from`'s vector) are delete candidates, after-only files (read
    *    through `to`'s vector) insert candidates — exactly the
    *    equal-stamp path's halves;
    * then net-cancelled against each other, which reproduces the full
    * diff's multiset semantics EXACTLY: with A' (content at `to`) =
    * B' − d + i over the composed delete/insert multisets, the net
    * inserts are (i − d)⁺ = i.exceptAll(d) and deletes (d − i)⁺ —
    * O(changed rows), never O(window content). Every part is projected
    * through the TO version's column map over the window-union physical
    * schema, so unchanged rows cancel across a RENAME in the same
    * window (physical identity is shared; the old fallback NULL-padded
    * disjoint logical surfaces and reported the whole table as
    * delete+insert).
    */
  private def changesAcrossDv(from: Long, to: Long, dvFrom: Option[Long],
                              dvTo: Option[Long]): DataFrame = {
    val cmapTo = cmapAt(to)
    val beforeAdds = addsOf(from).map(_._1)
    val afterAdds = addsOf(to).map(_._1)
    val beforeFiles = beforeAdds.toSet
    val afterFiles = afterAdds.toSet
    val beforeOnly = (beforeFiles -- afterFiles).toSeq.sorted
    val afterOnly = (afterFiles -- beforeFiles).toSeq.sorted
    val sharedNames = (beforeFiles & afterFiles).map(fileName)
    // the stamp delta as LITERAL sidecar chain suffixes — O(deleted in
    // window) reads, never an exceptAll over two full position sets:
    // the forward window (`to`'s chain extends `from`'s tip) contributes the suffix's appended positions as
    // deletes; a RESTORE window (the reverse extension) contributes them
    // as inserts; only divergent chains (a reset-then-redelete window,
    // or legacy snapshot sidecars) fall back to the full-set diff
    def unionDeltas(vs: Seq[Long]): DataFrame =
      vs.map(dvDeltaContent).reduceOption(_ unionByName _)
        .getOrElse(emptyDvPositions())
    val (delPos, insPos) =
      dvTo.flatMap(t => dvChainSuffix(dvFrom, t)) match {
        case Some(suffix) => (unionDeltas(suffix), emptyDvPositions())
        case None => dvFrom.flatMap(f => dvChainSuffix(dvTo, f)) match {
          case Some(suffix) => (emptyDvPositions(), unionDeltas(suffix))
          case None =>
            val va = dvTo.map(dvPositionsAt).getOrElse(emptyDvPositions())
            val vb = dvFrom.map(dvPositionsAt).getOrElse(emptyDvPositions())
            (va.exceptAll(vb), vb.exceptAll(va))
        }
      }
    // the delta's distinct file names (O(changed) driver list), cut to
    // SHARED files: positions in non-shared files are inert (the file
    // left the active list — its whole content rides the file-diff
    // halves) or covered by the after-only read's own vector
    val byName = afterAdds.map(p => fileName(p) -> p).toMap
    def touchedPaths(pos: DataFrame): Seq[String] =
      pos.select("file").distinct().collect().map(_.getString(0))
        .filter(sharedNames).toSeq.sorted.map(byName)
    val delTouched = touchedPaths(delPos)
    val insTouched = touchedPaths(insPos)
    val allRead = beforeOnly ++ afterOnly ++ (delTouched ++ insTouched).distinct
    if (allRead.isEmpty)
      return applyCmap(emptyLike(), cmapTo).withColumn("change_type", lit("insert"))
    // one window-union physical schema for every part ([[changesBetween]]'s
    // alignment discipline), then the TO version's logical projection
    val ref = scan(allRead, None).schema
    def align(df: DataFrame): DataFrame =
      applyCmap(ref.fields.foldLeft(df) { (d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(ref.fieldNames.map(col).toSeq: _*), cmapTo)
    // rows at the delta's positions: read ONLY the named shared files,
    // position-semi-join the sidecar delta (O(deleted)-sized build side;
    // basenames are globally unique, so no cross-file collisions)
    def posRows(paths: Seq[String], pos: DataFrame): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(align(
        scan(paths, None)
          .withColumn("__f", element_at(split(col("_metadata.file_path"), "/"), -1))
          .withColumn("__p", col("_metadata.row_index"))
          .join(pos.select(col("file").as("__f"), col("pos").as("__p")),
            Seq("__f", "__p"), "left_semi")
          .drop("__f", "__p")))
    def fileRows(paths: Seq[String], dvv: Option[Long]): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(align(scan(paths, dvv)))
    val deletes = Seq(posRows(delTouched, delPos), fileRows(beforeOnly, dvFrom))
      .flatten.reduceOption(_ unionByName _)
    val inserts = Seq(posRows(insTouched, insPos), fileRows(afterOnly, dvTo))
      .flatten.reduceOption(_ unionByName _)
    (deletes, inserts) match {
      case (None, None) =>
        applyCmap(emptyLike(), cmapTo).withColumn("change_type", lit("insert"))
      case (Some(d), None) => d.withColumn("change_type", lit("delete"))
      case (None, Some(i)) => i.withColumn("change_type", lit("insert"))
      case (Some(d), Some(i)) =>
        // net cancellation — a row deleted via the vector and re-appended
        // in the same window nets to no change, exactly as the full diff
        i.exceptAll(d).withColumn("change_type", lit("insert"))
          .unionByName(d.exceptAll(i).withColumn("change_type", lit("delete")))
    }
  }

  /** Append `df` as a new version: previous file list + the new files —
    * a DELTA log entry listing only the new files (O(batch), never
    * O(table)). Concurrent appends AUTO-REBASE: appends add disjoint
    * files and commute, so on a lost rename race the writer re-resolves
    * the head and retries (bounded) — Delta's automatic conflict
    * resolution for AddFile-only commits; both racers land, as
    * consecutive versions with union content.
    *
    * With DECLARED invariants ([[setInvariants]]) the append is
    * schema-on-write enforced and its row rules run against the staged
    * batch; `mergeSchema = true` opts INTO widening evolution (the
    * declared schema grows by the batch's new columns) — without
    * invariants, evolve-on-append stays the default (f21), unchanged. */
  def append(df: DataFrame, tsMillis: Option[Long] = None,
             mergeSchema: Boolean = false): Long =
    rebaseOnConflict(5)(
      commitVersion(df, keepPrevious = true, op = "append", tsMillis = tsMillis,
        mergeSchema = mergeSchema))

  /** Idempotent append for AT-LEAST-ONCE producers (Delta's
    * `txnAppId`/`txnVersion` options): the commit header records
    * `(appId, txnV)`, and an append whose `txnV` is at or below the
    * app's latest recorded transaction is recognized as a RE-DELIVERY
    * and skipped (returns None; a fresh commit returns Some(version)).
    * This is what makes a `foreachBatch` streaming sink exactly-once —
    * the engine re-runs a batch whose sink committed but whose source
    * checkpoint didn't, and without the transaction marker the retry
    * would double the batch's rows.
    *
    * Contract (Delta's): one writer per `appId` at a time — streaming
    * queries guarantee it (a query run retries batches sequentially);
    * monotonic `txnV` per app (micro-batch ids are). The check is one
    * log-sized scan ([[txnVersion]]), never a table read.
    */
  def appendIdempotent(df: DataFrame, appId: String, txnV: Long,
                       tsMillis: Option[Long] = None): Option[Long] = {
    require(appId.nonEmpty, "appendIdempotent: appId must be non-empty")
    if (txnVersion(appId).exists(_ >= txnV)) None
    else Some(rebaseOnConflict(5)(commitVersion(df, keepPrevious = true,
      op = "append", tsMillis = tsMillis, txn = Some((appId, txnV)))))
  }

  /** The latest transaction version recorded for `appId` across all
    * commit headers (None if the app never committed). Version-count-sized
    * DRIVER scan of header lines — the [[commitTs]] discipline: markers
    * ride only first lines, so launching a cluster job over every log
    * file's full action list (adds/removes included) would make each
    * exactly-once micro-batch pay O(total log bytes); header lines are
    * immutable and cached, so a long-lived sink pays one filesystem read
    * per NEW version, not per batch. */
  def txnVersion(appId: String): Option[Long] = {
    val marker = s""""txnApp": ${jsonStr(appId)}, "txnV": """
    versions().flatMap { v =>
      val h = headerLine(v)
      val i = h.indexOf(marker)
      if (i < 0) None
      else Some(h.substring(i + marker.length)
        .takeWhile(c => c == '-' || c.isDigit).toLong)
    }.reduceOption(_ max _)
  }

  /** Re-runs `body` on a lost optimistic-concurrency race, up to
    * `attemptsLeft` total attempts — ONLY for commutative commits
    * (appends); read-modify-write commits surface the conflict because
    * their base snapshot is stale by definition. */
  private def rebaseOnConflict[T](attemptsLeft: Int)(body: => T): T =
    try body
    catch {
      case e: java.util.ConcurrentModificationException =>
        if (attemptsLeft <= 1) throw e
        else rebaseOnConflict(attemptsLeft - 1)(body)
    }

  /** Write-audit-publish (the Iceberg WAP shape): stage the batch's data
    * directory, AUDIT the rows as ACTUALLY WRITTEN (re-read from the
    * staged parquet — a writer/codec bug the input DataFrame can't show is
    * caught here), and only on a clean report publish the atomic log
    * entry. A failed audit deletes the staging and leaves the head
    * untouched — readers never see the bad batch at any version — and
    * returns `Left(report)` (every rule with its violation count);
    * success returns `Right(version)`.
    *
    * Scale shape: the audit is [[Validation.rowChecks]]'s fused ONE-scan
    * conditional-sum pass over just the staged batch (never the table),
    * and the collected report is rule-count-sized by contract.
    */
  def appendAudited(df: DataFrame,
                    rules: Seq[Validation.RowRule]): Either[Seq[(String, Long)], Long] = {
    require(rules.nonEmpty, "appendAudited needs at least one rule")
    val auditFn: DataFrame => Seq[(String, Long)] = staged =>
      Validation.rowChecks(staged, rules).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    // audited appends auto-rebase like [[append]] (the audit re-runs per
    // attempt — it checks the staged batch, which a rebase re-stages)
    try Right(rebaseOnConflict(5)(commitVersion(df, keepPrevious = true,
      op = "append-audited", audit = Some(auditFn))))
    catch { case e: AuditFailedException => Left(e.report) }
  }

  /** Retention: delete data DIRECTORIES referenced by none of the last
    * `keepLast` versions — the VACUUM half of the time-travel bargain
    * (old versions stay readable UNTIL retention reclaims their files).
    * Reference counting is against the kept versions' full file lists, so
    * a file carried forward by appends survives even when the version
    * that wrote it is vacuumed. Kept versions stay readable; older log
    * entries remain as provenance but their reads fail once files are
    * gone. Returns the number of directories removed.
    *
    * In-flight-writer safety: a writer STAGES its `d<ver>-<nonce>`
    * directory before publishing its log entry, so an unreferenced
    * directory is not necessarily garbage. Two guards close the race
    * (Delta's VACUUM retention window, adapted to the version scheme):
    *  - directories whose encoded version EXCEEDS the latest committed
    *    version are never touched. A writer's staged version is
    *    `head + 1 > head` for the whole window in which its publish can
    *    still succeed (any interleaved commit makes its rename fail and
    *    the writer reclaims its own staging), so every publishable staged
    *    directory is protected by construction;
    *  - directories younger than `retainMillis` (mtime) are skipped —
    *    defense in depth for clock/listing races and foreign tooling.
    *    Default 0 keeps reclamation immediate for single-writer
    *    maintenance; run with a real window (Delta defaults to 7 days)
    *    when concurrent writers are possible.
    *
    * Scale shape: the referenced set is log-sized (kept versions × file
    * lists), the candidate listing is one directory scan of the table
    * root — never a data read.
    */
  def vacuum(keepLast: Int = 2, retainMillis: Long = 0L): Long = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    vacuumKeeping(versions().takeRight(keepLast).toSet, retainMillis)
  }

  /** [[vacuum]] with an EXPLICIT keep set — what index-level retention
    * needs ([[IndexManifest.vacuumIndex]]): the versions a manifest pins
    * are arbitrary, not a suffix, so "keep the last N" cannot express
    * "keep what any retained index version references". The head must be
    * in the keep set (reclaiming the head's files bricks the table). */
  def vacuumKeeping(keepVersions: Set[Long], retainMillis: Long = 0L): Long = {
    require(retainMillis >= 0, s"retainMillis must be >= 0, got $retainMillis")
    val vs = versions()
    val head = vs.lastOption.getOrElse(-1L)
    require(vs.isEmpty || keepVersions.contains(head),
      s"vacuumKeeping at $path must keep the head version $head")
    val keep = vs.filter(keepVersions)
    val referencedDirs = keep.flatMap { v =>
      addsOf(v).flatMap { r =>
        // foreign (shallow-cloned) references live under ANOTHER table's
        // root — they can never match a local d<ver>-<nonce> directory,
        // and this table's vacuum must never reach across roots
        storedForm(r._1) match {
          case abs if abs.startsWith("/") => None
          case rel => Some(rel.substring(0, rel.indexOf('/') match {
            case -1 => rel.length; case i => i }))
        }
      }
    }.toSet
    val now = System.currentTimeMillis()
    val doomed = fs.listStatus(new Path(path))
      .filter(_.isDirectory)
      .filter { st =>
        val n = st.getPath.getName
        n.matches("d\\d+-[0-9a-f]{8}") &&
          !referencedDirs.contains(n) &&
          n.substring(1, n.indexOf('-')).toLong <= head &&
          now - st.getModificationTime >= retainMillis
      }
      .map(_.getPath.getName)
    doomed.foreach(d => fs.delete(new Path(path, d), true))
    // deletion-vector sidecar retention rides the same pass: a `_dv`
    // version is garbage once NO kept main version stamps it. Chain
    // members of kept stamps survive automatically — sidecar appends
    // carry prior files forward, so the kept stamp's resolved file list
    // references every link's directory. Orphaned appends are likewise
    // carried (over-retentive but safe) until a consolidation/OPTIMIZE
    // snapshot drops them from the active list, after which this pass
    // reclaims them. The sidecar's own head stays by the vacuum
    // contract; reclaimed versions were only reachable through main
    // versions this vacuum just expired.
    val dvReclaimed =
      if (!fs.exists(new Path(s"$path/_dv/_log"))) 0L
      else {
        val dvT = dvTable
        dvT.latestVersion() match {
          case None => 0L
          case Some(dvHead) =>
            val stamped = keep.flatMap(dvVersionAt).toSet + dvHead
            dvT.vacuumKeeping(stamped, retainMillis)
        }
      }
    doomed.length.toLong + dvReclaimed
  }

  /** MERGE a change-set into the LATEST version and commit the result as a
    * new version — `MERGE INTO table` bound to the log: the read side
    * resolves through the current committed file list, the merged snapshot
    * commits atomically (same optimistic concurrency as any commit), and
    * every pre-merge version stays readable via [[asOf]] — so a bad
    * upsert is one `asOf(v-1)` away from undone. Source contract is
    * [[MergeInto.merge]]'s (key-unique change-set, non-null keys; the
    * optional BOOLEAN `deleteCol` marks deletions).
    *
    * Scale note: the snapshot-complete log means this writes the full
    * merged table (the simple shape); the partition-pruned rewrite is
    * [[MergeInto.mergeCow]]'s job — a log-backed CoW would add only the
    * UNTOUCHED files' add-entries to the new commit instead of rewriting
    * them.
    */
  def merge(source: DataFrame, keys: Seq[String],
            deleteCol: Option[String] = None): Long = {
    // capture the base the merge is computed AGAINST: read-modify-write is
    // only optimistic-safe if the commit is rejected when the head moved in
    // between — otherwise this rename lands cleanly at newHead+1 and the
    // interleaved writer's changes are silently overwritten (lost update)
    val base = head()
    commitVersion(MergeInto.merge(asOf(base), source, keys, deleteCol),
      keepPrevious = false, op = "merge", expectedBase = Some(base))
  }

  /** `DELETE WHERE statsCol BETWEEN lo AND hi` as a FILE-GRANULAR
    * copy-on-write commit — the Delta/Iceberg row-level-delete shape the
    * whole-table CoW paths (merge/overwrite) don't give: files whose
    * per-file `[lo, hi]` stats DON'T intersect the predicate carry
    * forward as log entries — never read, never rewritten — and only the
    * intersecting files are read, filtered, and rewritten. At 100 TB a
    * delete of one day's keys from a range-clustered table rewrites that
    * day's files alone. Optimistic like [[merge]]: a head moved since the
    * base snapshot rejects the commit. Returns the new version (or the
    * current head when no file intersects — a provable no-op commits
    * nothing). Old versions stay readable via [[asOf]].
    */
  def deleteRange(lo: Long, hi: Long): Long = {
    require(lo <= hi, s"deleteRange: lo $lo must be <= hi $hi")
    val base = head()
    val (touched, carried) = addsOf(base).partition(r => r._3 >= lo && r._2 <= hi)
    if (touched.isEmpty) return base
    // null-safe KEEP predicate on the physical key (Delta semantics): a
    // NULL key row matches no range predicate, so it must SURVIVE the
    // delete — `!(k >= lo && k <= hi)` would evaluate to NULL for it and
    // silently drop it from rewritten files while identical rows in
    // carried files survive (row fate would depend on file placement)
    val k = col(statsCol).cast("long")
    rewriteTouched(base, "delete", touched, carried,
      residual = Some(k.isNull || k < lo || k > hi))(identity)
  }

  /** The file-granular copy-on-write commit shared by range DML,
    * small-file compaction and [[purgeDv]]: the `touched` records of
    * `base` are read logically ([[readAt]] — outstanding deletion vectors
    * apply, so a rewrite never resurrects DV-deleted rows; `residual`
    * filters the physical scan), passed through `rewrite`, and committed
    * beside the `carried` records, which stay by reference (their files
    * keep the stamp, which commitVersion rolls forward unless
    * `dvOverride` replaces it). Single-winner against `base`. */
  private def rewriteTouched(base: Long, op: String, touched: Seq[Rec], carried: Seq[Rec],
                             residual: Option[Column] = None,
                             dvOverride: Option[Option[Long]] = None)(
                             rewrite: DataFrame => DataFrame): Long =
    commitVersion(rewrite(readAt(base, touched.map(_._1), residual)),
      keepPrevious = false, op = op, expectedBase = Some(base),
      carriedExplicit = Some(carried.map(r => r.copy(_1 = storedForm(r._1)))),
      dvOverride = dvOverride)

  /** `UPDATE SET setCol = setExpr WHERE statsCol BETWEEN lo AND hi` as a
    * FILE-GRANULAR copy-on-write commit — the third DML statement of the
    * Delta/Iceberg triad ([[merge]] = MERGE INTO, [[deleteRange]] =
    * DELETE WHERE): files whose per-file `[lo, hi]` stats don't intersect
    * the predicate carry forward as log entries — never read, never
    * rewritten — and only the intersecting files are read and rewritten
    * with `setExpr` (an arbitrary SQL expression over the row, cast back
    * to the column's committed type so the schema never drifts between
    * rewritten and carried files) applied to MATCHING rows; non-matching
    * rows in touched files rewrite byte-identically. NULL-key rows match
    * no range predicate, so they rewrite unchanged (the [[deleteRange]]
    * null-safety discipline). Optimistic like [[merge]]: a head moved
    * since the base snapshot rejects the commit. Returns the new version
    * (current head when no file intersects — a provable no-op commits
    * nothing).
    */
  def updateRange(lo: Long, hi: Long, setCol: String, setExprSql: String): Long = {
    require(lo <= hi, s"updateRange: lo $lo must be <= hi $hi")
    val base = head()
    val (touched, carried) = addsOf(base).partition(r => r._3 >= lo && r._2 <= hi)
    if (touched.isEmpty) return base
    // `setCol`/`setExprSql` address logical names, and the key predicate
    // uses the stats column's LOGICAL name (same physical values; the
    // stats column is never droppable)
    val logicalKey =
      cmapAt(base).flatMap(_.cols.find(_._2 == statsCol).map(_._1)).getOrElse(statsCol)
    rewriteTouched(base, "update", touched, carried) { src =>
      require(src.columns.contains(setCol),
        s"updateRange: column $setCol not in table schema ${src.columns.mkString(", ")}")
      val k = col(logicalKey).cast("long")
      src.withColumn(setCol,
        when(k.isNotNull && k >= lo && k <= hi,
          expr(setExprSql).cast(src.schema(setCol).dataType))
          .otherwise(col(setCol)))
    }
  }

  /** Replace the table contents with `df` as a new version (old versions
    * stay readable via [[asOf]]). Declared invariants are enforced like
    * [[append]]'s; `mergeSchema` opts into widening evolution.
    */
  def overwrite(df: DataFrame, tsMillis: Option[Long] = None,
                mergeSchema: Boolean = false): Long =
    commitVersion(df, keepPrevious = false, op = "overwrite", tsMillis = tsMillis,
      mergeSchema = mergeSchema)

  // ----- schema-on-write + declared invariants (f26) ----------------------
  //
  // Without a declaration, `append` accepts ANY batch schema
  // (evolve-on-append, f21) and audit rules are per-call opt-in
  // (`appendAudited`) — which at the 100 TB design point means one
  // mistyped producer silently widens the table and nothing re-checks the
  // next writer. Delta's answer is table-DECLARED
  // metadata every writer enforces: schema-on-write (a batch whose
  // columns/types drift is rejected unless the writer explicitly opts
  // into mergeSchema evolution) and CHECK/NOT NULL invariants (validated
  // against each staged batch inside the same write-audit-publish gate,
  // so a violating batch aborts with head and history untouched). The
  // declaration rides in the commit HEADER (`inv`, a nested JSON
  // document) and is CARRIED FORWARD by every subsequent commit — one
  // cached header read resolves the effective declaration, never a walk.

  /** Declare the table's expected schema and row invariants as a
    * METADATA-ONLY commit (zero data rewritten; op `set-invariants`).
    * From this commit on, every data-writing commit (append, idempotent /
    * audited append, merge, range DML, overwrite) enforces:
    *  - schema-on-write: batch columns must exist in the declared schema
    *    with the declared type; undeclared columns and type drift reject
    *    the write (unless the writer passes `mergeSchema = true`, which
    *    widens the declaration by the batch's new columns — evolution
    *    becomes an explicit choice, Delta's contract);
    *  - NOT NULL columns must be present in the batch and non-null;
    *  - CHECK rules (named SQL predicates over the row) must hold; a rule
    *    evaluating to NULL counts as a violation ([[Validation.rowChecks]]'s
    *    engine-wide semantics — stricter than SQL's UNKNOWN-passes).
    * Existing table content is validated first (the Delta ADD CONSTRAINT
    * scan) unless `validateExisting = false`; a declaration the current
    * head already violates is rejected with the violation report.
    * Single-winner like every read-modify-write commit: a head moved
    * since validation surfaces the conflict.
    */
  def setInvariants(schemaDdl: String, checks: Seq[(String, String)] = Nil,
                    notNull: Seq[String] = Nil,
                    validateExisting: Boolean = true): Long = {
    val declared = StructType.fromDDL(schemaDdl)
    notNull.foreach(c => require(declared.fieldNames.contains(c),
      s"setInvariants: NOT NULL column $c is not in the declared schema"))
    checks.foreach { case (n, _) => require(n.matches("[A-Za-z0-9_]+"),
      s"setInvariants: check name must be a simple identifier, got '$n'") }
    val head = this.head()
    val iv = TableInvariants(declared.toDDL, checks, notNull)
    if (validateExisting) {
      checkSchemaOnWrite(asOf(head).schema, iv, mergeSchema = false)
      rowRulesOf(iv).foreach { rules =>
        val report = Validation.rowChecks(alignToDeclared(asOf(head), declared), rules)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        if (report.exists(_._2 > 0)) throw new InvariantViolationException(report)
      }
    }
    publishMetadataEdit(head, "set-invariants")(inv = Some(iv))
  }

  /** The declaration in force at `version`'s commit (carried forward by
    * every commit since the [[setInvariants]] that introduced it); None
    * for undeclared tables. One cached header read. */
  def invariantsAt(version: Long): Option[TableInvariants] =
    invCache.computeIfAbsent(version, v => CommitTable.decodeInv(headerLine(v)))

  // headers are immutable, so decoded declarations/maps cache forever —
  // the headerLine discipline applied to the Jackson parse itself (asOf
  // resolves these per read; commit-heavy loops do it per commit)
  private val invCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[TableInvariants]]()
  private val cmapCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[ColumnMap]]()

  /** The declaration in force at the head. */
  def invariants(): Option[TableInvariants] =
    latestVersion().flatMap(invariantsAt)

  private def rowRulesOf(iv: TableInvariants): Option[Seq[Validation.RowRule]] = {
    val rules = iv.notNull.map(c => Validation.RowRule(s"not_null_$c", col(c).isNotNull)) ++
      iv.checks.map { case (n, e) => Validation.RowRule(s"check_$n", expr(e)) }
    if (rules.isEmpty) None else Some(rules)
  }

  /** NULL-fills declared columns absent from `df` so CHECK rules always
    * evaluate (a rule over a column the batch omitted sees NULL — and
    * NULL-eval counts as a violation, so omission never smuggles rows
    * past a rule). */
  private def alignToDeclared(df: DataFrame, declared: StructType): DataFrame =
    declared.fields.foldLeft(df)((d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType)))

  /** Schema-on-write: every batch column must be declared with the same
    * type; NOT NULL columns must be present. `mergeSchema` admits NEW
    * columns (widening) but never type drift. Violations carry a
    * rule-count-sized report, one entry per offending column. */
  private def checkSchemaOnWrite(batch: StructType, iv: TableInvariants,
                                 mergeSchema: Boolean): Unit = {
    val declared = StructType.fromDDL(iv.schemaDdl)
    val types = declared.fields.map(f => f.name -> f.dataType).toMap
    val undeclared =
      if (mergeSchema) Nil
      else batch.fields.toSeq.collect {
        case f if !types.contains(f.name) => (s"undeclared_column_${f.name}", 1L) }
    val drifted = batch.fields.toSeq.collect {
      case f if types.get(f.name).exists(_ != f.dataType) =>
        (s"type_drift_${f.name}", 1L) }
    val missing = iv.notNull.collect {
      case c if !batch.fieldNames.contains(c) => (s"missing_not_null_${c}", 1L) }
    val report = undeclared ++ drifted ++ missing
    if (report.nonEmpty) throw new InvariantViolationException(report)
  }

  /** The invariant declaration a NEW commit must carry in its header:
    * the predecessor's, widened by the batch's new columns when the
    * writer opted into mergeSchema. */
  private def stampedInv(prevInv: Option[TableInvariants], batch: StructType,
                         mergeSchema: Boolean): Option[String] =
    prevInv.map { iv =>
      if (!mergeSchema) CommitTable.encodeInv(iv)
      else {
        val declared = StructType.fromDDL(iv.schemaDdl)
        val known = declared.fieldNames.toSet
        // widened columns declare NULLABLE regardless of the batch's own
        // nullability — earlier files lack the column entirely (read as
        // NULL), and NOT NULL is the `notNull` list's job, not the DDL's
        val widened = StructType(declared.fields ++
          batch.fields.filterNot(f => known.contains(f.name))
            .map(_.copy(nullable = true)))
        CommitTable.encodeInv(iv.copy(schemaDdl = widened.toDDL))
      }
    }

  /** Compaction as a COMMIT: rewrite the current content into
    * `targetFiles` row-balanced files and commit the new list as the next
    * version. Readers of older versions still resolve the original files
    * — maintenance never breaks time travel (f11's swap-on-success,
    * formalized by the log).
    */
  def compact(targetFiles: Int = 4): Long = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    rewriteHead("compact")(asOf(_).repartition(targetFiles))
  }

  /** The whole-head rewrite shared by the OPTIMIZE forms: commits
    * `content(base)` as the next version, replacing every file. Content-
    * preserving of WHATEVER head it reads, so a lost race is safe to
    * retry — the base re-resolves inside the retried body, so the retry
    * rewrites the NEW head (Delta's rule: maintenance never conflicts
    * with appends, it just goes again). The base is pinned and passed as
    * expectedBase: an append landing between the base read and the
    * version resolution would otherwise publish the rewrite at head+2
    * cleanly and silently ERASE the interleaved append. */
  private def rewriteHead(op: String)(content: Long => DataFrame): Long =
    rebaseOnConflict(3) {
      val base = head()
      commitVersion(content(base), keepPrevious = false, op = op, expectedBase = Some(base))
    }

  /** Clustered compaction — the OPTIMIZE shape for INDEX tables whose
    * query path file-prunes on a key ([[compact]]'s round-robin rewrite
    * would scatter every key across every output file and kill that
    * pruning): rewrites the head into `targetFiles` RANGE-partitioned
    * files on `clusterCol`, so each output file covers a narrow key
    * window and the log's per-file stats keep skipping. This is the
    * maintenance step a streamed index needs — one commit per micro-batch
    * accretes small files; a periodic clustered compaction folds them
    * back to a few well-clustered ones while old versions (and their
    * original files) stay readable via [[asOf]].
    */
  def compactClustered(clusterCol: String, targetFiles: Int = 4): Long = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    rewriteHead("compact")(asOf(_).repartitionByRange(targetFiles, col(clusterCol)))
  }

  /** OPTIMIZE to a target file SIZE — the production knob (Delta and
    * Iceberg bin-pack toward ~1 GB files): a fixed file COUNT is
    * meaningless across scales, while "files of about `targetBytes`" is
    * the invariant that keeps scan parallelism, footer overhead, and
    * stats-window width balanced at ANY table size. Resolves the head's
    * total data bytes from the filesystem's file list (file-count-sized
    * driver metadata — no data read) and folds into
    * `ceil(total / targetBytes)` cluster-ranged files via
    * [[compactClustered]]. Sizing is by pre-rewrite bytes (the standard
    * bin-packing estimate; re-compression skew is bounded for
    * like-encoded rewrites). */
  def compactClusteredToSize(clusterCol: String, targetBytes: Long): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    // measured INSIDE the retried body: a lost race re-measures the new
    // head, so the retried rewrite is sized for what it actually compacts
    rewriteHead("compact") { base =>
      val total = addsOf(base).map(r => fs.getFileStatus(new Path(r._1)).getLen).sum
      val target = math.max(1L, (total + targetBytes - 1) / targetBytes)
      require(target <= Int.MaxValue.toLong,
        s"compactClusteredToSize: $total bytes / $targetBytes per file needs $target files")
      asOf(base).repartitionByRange(target.toInt, col(clusterCol))
    }
  }

  /** INCREMENTAL OPTIMIZE — bin-pack ONLY the small files (the real
    * Delta/Iceberg OPTIMIZE semantics: files already at target size are
    * never rewritten): active files smaller than `smallBytes` (default
    * `targetBytes` / 2) fold into ~`targetBytes` range-clustered output
    * files; every at-size file carries untouched as a log entry. Cost is
    * O(small-file bytes), never O(table) — the maintenance a streamed
    * table needs at 100 TB, where per-batch commits accrete small files
    * beside large compacted ones and a full [[compactClusteredToSize]]
    * would rewrite the cold petabytes to fold a few megabytes. Needs at
    * least TWO sub-threshold files to act (a lone small file gains
    * nothing from a rewrite); returns the head unchanged otherwise.
    * Outstanding deletion vectors apply to the rewritten slice (its
    * deletes materialize, their sidecar entries go inert with the
    * dropped names); carried files keep the stamp live — exactly the
    * CoW range-DML discipline. Single-winner with auto-rebase; the base
    * is pinned ([[rewriteHead]]'s lost-update rule). */
  def compactSmall(clusterCol: String, targetBytes: Long,
                   smallBytes: Long = -1L): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val small = if (smallBytes > 0) smallBytes else math.max(1L, targetBytes / 2)
    rebaseOnConflict(3) {
      val base = head()
      // on-disk sizes from the file list — file-count-sized driver
      // metadata, no data read
      val sized = addsOf(base).map(r => (r, fs.getFileStatus(new Path(r._1)).getLen))
      val (smalls, bigs) = sized.partition(_._2 < small)
      if (smalls.length < 2) base
      else {
        val total = smalls.map(_._2).sum
        val nOut = math.max(1L, (total + targetBytes - 1) / targetBytes)
        require(nOut <= Int.MaxValue.toLong,
          s"compactSmall: $total bytes / $targetBytes per file needs $nOut files")
        rewriteTouched(base, "compact", smalls.map(_._1), bigs.map(_._1))(
          _.repartitionByRange(nOut.toInt, col(clusterCol)))
      }
    }
  }

  /** One-call MAINTENANCE POLICY (the Delta auto-compaction shape): the
    * health instruments ([[dvOutstanding]], the file-list sizes) decide
    * which TARGETED ops the head actually needs, and only those run —
    * [[purgeDv]] when outstanding deletes exist and any file crosses
    * `purgeAt`, then [[compactSmall]] when at least `smallFilesAt`
    * sub-threshold files accreted. Each action is the O(dirty) op,
    * never a full rewrite, so calling this after every ingest cycle is
    * safe at any scale — a healthy head runs NOTHING and commits
    * nothing. Returns the ops that committed, in order. The explicit
    * knobs ([[compactClusteredToSize]], [[optimizeZorder]],
    * [[consolidateDv]], [[vacuumRetain]]) stay for layout changes and
    * retention, which a policy must not guess at. */
  def maintain(clusterCol: String, targetBytes: Long,
               purgeAt: Double = 0.3, smallFilesAt: Int = 4): Seq[String] = {
    require(smallFilesAt >= 2, s"smallFilesAt must be >= 2, got $smallFilesAt")
    val ran = scala.collection.mutable.ListBuffer.empty[String]
    if (dvOutstanding() > 0L) {
      val before = latestVersion()
      if (Some(purgeDv(purgeAt)) != before) ran += "purge-dv"
    }
    val small = math.max(1L, targetBytes / 2)
    val nSmall = addsOf(head()).count(r => fs.getFileStatus(new Path(r._1)).getLen < small)
    if (nSmall >= smallFilesAt) {
      val before = latestVersion()
      if (Some(compactSmall(clusterCol, targetBytes, small)) != before)
        ran += "compact-small"
    }
    ran.toList
  }

  /** Time-based retention (Delta's `VACUUM … RETAIN n HOURS`, resolved to
    * versions): keep every version whose commit timestamp falls within
    * `horizonMillis` of `nowMillis` — plus the head, always — and reclaim
    * data directories nothing kept references. Timestamps come from
    * commit headers (driver-side, version-count-sized — the [[commitTs]]
    * discipline); versions from a pre-timestamp log count as expired.
    * Returns the number of directories removed. */
  def vacuumRetain(horizonMillis: Long,
                   nowMillis: Long = System.currentTimeMillis()): Long = {
    require(horizonMillis >= 0, s"horizonMillis must be >= 0, got $horizonMillis")
    val vs = versions()
    val cutoff = nowMillis - horizonMillis
    val keep = vs.filter(v =>
      scala.util.Try(commitTs(v)).toOption.exists(_ >= cutoff)).toSet ++ vs.lastOption
    vacuumKeeping(keep)
  }

  /** OPTIMIZE ZORDER as a commit (the Delta `OPTIMIZE … ZORDER BY` shape):
    * rewrite the current content Z-curve-clustered on `(xCol, yCol)` —
    * every output file covers a small RECTANGLE of the key space, so
    * range filters on EITHER dimension skip files via the log's per-file
    * stats ([[prunedRead]] bites on `statsCol`; parquet min/max bite on
    * both) — and commit the rewrite as the next version. Old versions
    * stay readable; content is byte-identical (a layout maintenance
    * commit, like [[compact]]). One sampling range exchange on the
    * Z-code; nothing driver-sized.
    */
  def optimizeZorder(xCol: String, yCol: String, bits: Int = 10,
                     targetFiles: Int = 8): Long = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    rewriteHead("zorder")(asOf(_)
      .withColumn("__z", expr(Partitioning.zorderExpr(xCol, yCol, bits)))
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"))
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Scheme-robust table-relative form of an absolute file path/URI. */
  private def relativize(file: String): String = {
    val p = new Path(file).toUri.getPath
    val base = new Path(path).toUri.getPath + "/"
    require(p.startsWith(base), s"$file is not under table root $path")
    p.substring(base.length)
  }

  /** The form a resolved file path takes in the log: table-relative for
    * own files, absolute for foreign (shallow-cloned) files.
    */
  private def storedForm(file: String): String = {
    val p = new Path(file).toUri.getPath
    val base = new Path(path).toUri.getPath + "/"
    if (p.startsWith(base)) p.substring(base.length) else p
  }

  /** The version this writer will attempt to commit next. Overridable so
    * conflict tests can inject a STALE head deterministically — in
    * production the stale read happens by timing (another writer commits
    * between this resolution and the create), with the identical outcome:
    * the atomic create fails and the commit is rejected.
    */
  protected def nextVersion(): Long = latestVersion().map(_ + 1).getOrElse(0L)

  /** The resolved active list of `version` in stored-path form. */
  private def collectAdds(version: Long): Seq[Rec] =
    addsOf(version).map(r => r.copy(_1 = storedForm(r._1)))

  /** Active (n_files, n_rows) totals of `version` — from the commit
    * header's counters when present (one first-line read), else by
    * resolving the file list (legacy entries). */
  private def activeTotals(version: Long): (Long, Long) = {
    val h = headerLine(version)
    val nf = """"nf": (\d+)""".r.findFirstMatchIn(h).map(_.group(1).toLong)
    val nr = """"nr": (-?\d+)""".r.findFirstMatchIn(h).map(_.group(1).toLong)
    (nf, nr) match {
      case (Some(f), Some(r)) => (f, r)
      case _ =>
        val adds = collectAdds(version)
        (adds.length.toLong, adds.map(_._4).sum)
    }
  }

  /** Per-file stats via one Spark aggregate over the staged files — the
    * general-type path ([[footerStats]] is the fast path): one row per
    * written FILE, primary + declared extra columns in the same pass. */
  private def sparkStats(dataDir: Path): Seq[Rec] = {
    val extraAggs = extraStatsCols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"__lo_$c"), max(col(c).cast("long")).as(s"__hi_$c")))
    val aggs = Seq(min(col(statsCol).cast("long")).as("lo"),
      max(col(statsCol).cast("long")).as("hi"), count(lit(1)).as("n")) ++ extraAggs
    spark.read.parquet(dataDir.toString)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        // xs encodes "col=lo:hi;..." — columns whose file slice is
        // all-NULL are omitted (no stats ⇒ the file always survives
        // that column's cut)
        val xs = extraStatsCols.zipWithIndex.flatMap { case (c, i) =>
          val (loI, hiI) = (4 + 2 * i, 5 + 2 * i)
          if (r.isNullAt(loI) || r.isNullAt(hiI)) None
          else Some(s"$c=${r.getLong(loI)}:${r.getLong(hiI)}")
        }.mkString(";")
        // a file whose PRIMARY statsCol slice is all-NULL has no key
        // window: record the whole range, so it survives every stats
        // cut (conservative-correct — NULL keys match no range
        // predicate, and range DML's keep-predicates preserve them)
        val (lo, hi) =
          if (r.isNullAt(1) || r.isNullAt(2)) (Long.MinValue, Long.MaxValue)
          else (r.getLong(1), r.getLong(2))
        (relativize(r.getString(0)), lo, hi, r.getLong(3),
          if (xs.isEmpty) null else xs)
      }.toSeq
  }

  /** Per-file stats read from the staged files' parquet FOOTERS on the
    * driver — ZERO Spark jobs (the Iceberg stats-collection shape: the
    * footer already records exact min/max/null-count per row group for
    * every column, so re-scanning rows to recompute them was one whole
    * extra job per commit — and at streamed-commit cadence that job IS
    * the per-commit constant SCALING.md measures at ~0.5s). Driver cost
    * is one footer read per staged file, the same order as the directory
    * listing the commit already does.
    *
    * Exactness contract: returns Some ONLY when every stats column is a
    * signed INT32/INT64 leaf in every staged file and every row group
    * records statistics — integer footer min/max are exact (never
    * truncated, unlike binary stats), so the result is bit-equal to the
    * `cast("long")` Spark aggregate it replaces. Any other physical or
    * logical type (dates, decimals, strings…), a missing column chunk,
    * or unrecorded statistics → None, and the caller takes [[sparkStats]].
    * Zero-row staged files are skipped, matching the Spark aggregate
    * (no group ⇒ no add entry).
    */
  private def footerStats(dataDir: Path): Option[Seq[Rec]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val cols = statsCol +: extraStatsCols
    val files = fs.listStatus(dataDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    try {
      val recs = files.flatMap { fst =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            fst, spark.sparkContext.hadoopConfiguration))
        val md = try reader.getFooter finally reader.close()
        val schema = md.getFileMetaData.getSchema
        // every stats column must be a signed-integer leaf of THIS file
        cols.foreach { c =>
          require(schema.containsField(c), s"no column $c")
          val t = schema.getType(Seq(c): _*)
          require(t.isPrimitive, s"$c is not a leaf")
          val p = t.asPrimitiveType()
          require(p.getPrimitiveTypeName == PrimitiveTypeName.INT64 ||
            p.getPrimitiveTypeName == PrimitiveTypeName.INT32, s"$c is not an int leaf")
          p.getLogicalTypeAnnotation match {
            case null => ()
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
              require(i.isSigned, s"$c is unsigned")
            case other => throw new IllegalArgumentException(s"$c has $other")
          }
        }
        import scala.jdk.CollectionConverters._
        val blocks = md.getBlocks.asScala.toSeq
        val n = blocks.map(_.getRowCount).sum
        if (n == 0L) None
        else {
          // (lo, hi) per column, None when the file's slice is all-NULL
          val ranges: Seq[Option[(Long, Long)]] = cols.map { c =>
            var lo = Long.MaxValue; var hi = Long.MinValue; var nonNull = 0L
            blocks.foreach { b =>
              val cc = b.getColumns.asScala.find(_.getPath.toDotString == c)
                .getOrElse(throw new IllegalArgumentException(s"no chunk for $c"))
              val st = cc.getStatistics
              require(st != null && st.isNumNullsSet, s"no statistics for $c")
              val nn = b.getRowCount - st.getNumNulls
              if (nn > 0) {
                require(st.hasNonNullValue, s"no min/max for $c")
                lo = math.min(lo, st.genericGetMin.asInstanceOf[Number].longValue)
                hi = math.max(hi, st.genericGetMax.asInstanceOf[Number].longValue)
                nonNull += nn
              }
            }
            if (nonNull == 0L) None else Some((lo, hi))
          }
          val (plo, phi) = ranges.head.getOrElse((Long.MinValue, Long.MaxValue))
          val xs = extraStatsCols.zip(ranges.tail).flatMap {
            case (c, Some((l, h))) => Some(s"$c=$l:$h")
            case _ => None
          }.mkString(";")
          Some((relativize(fst.getPath.toString), plo, phi, n,
            if (xs.isEmpty) null else xs))
        }
      }
      Some(recs.toSeq)
    } catch {
      case scala.util.control.NonFatal(_) => None // general-type fallback
    }
  }

  private def commitVersion(df: DataFrame, keepPrevious: Boolean, op: String,
                            expectedBase: Option[Long] = None,
                            audit: Option[DataFrame => Seq[(String, Long)]] = None,
                            tsMillis: Option[Long] = None,
                            carriedExplicit: Option[Seq[Rec]] = None,
                            txn: Option[(String, Long)] = None,
                            mergeSchema: Boolean = false,
                            dvOverride: Option[Option[Long]] = None,
                            nrDelta: Long = 0L): Long = {
    // resolve the head ONCE: the carried file list derives from version-1 of
    // the version this writer attempts, so base snapshot and attempt are
    // always consistent — a commit landing in between makes the publish
    // rename fail (stale head), never a silently dropped file list
    val version = nextVersion()
    // read-modify-write callers (merge) pass the version their snapshot was
    // computed against; a head that moved since is a conflict NOW — the
    // rename alone would only catch a race on the SAME version number,
    // letting a later-resolved head publish a lost update
    expectedBase.foreach { b =>
      if (version != b + 1)
        throw new java.util.ConcurrentModificationException(
          s"table $path moved from version $b to ${version - 1} since the merge base was read")
    }
    val prev = if (version > 0 && fs.exists(logFile(version - 1))) Some(version - 1) else None
    // declared invariants (f26): schema-on-write rejects BEFORE staging
    // (driver-only schema compare — no data written for a drifted batch);
    // the stamped declaration carries forward into this commit's header
    val prevInv = prev.flatMap(invariantsAt)
    prevInv.foreach(iv => checkSchemaOnWrite(df.schema, iv, mergeSchema))
    val inv = stampedInv(prevInv, df.schema, mergeSchema)
    // deletion-vector stamp: a FULL rewrite reads through the vector (its
    // input df already excludes deleted rows) and so MATERIALIZES the
    // deletes — the stamp resets; appends and CoW range DML keep carried
    // files' vectors live and roll the stamp forward
    val fullRewriteEarly = !keepPrevious && carriedExplicit.isEmpty
    // dvOverride: a DV-writing commit ([[updateWhereDV]]) stamps the
    // sidecar version it just published instead of carrying the base's;
    // Some(None) clears the stamp explicitly ([[purgeDv]] after
    // rewriting every vectored file)
    val dvCarry: Option[Long] = dvOverride.getOrElse(
      if (fullRewriteEarly) None else prev.flatMap(dvVersionAt))
    // column mapping (f28): df carries LOGICAL names; staging writes the
    // stable PHYSICAL names so every data file is uniform across renames.
    // New logical columns extend the map identity — unless the name
    // collides with a used or RETIRED physical slot, where a silent bind
    // would resurrect a dropped column's old values
    val prevCmap = prev.flatMap(cmapAt)
    val cmapCarry: Option[ColumnMap] = prevCmap.map { cm =>
      val known = cm.cols.map(_._1).toSet
      val usedPhys = cm.cols.map(_._2).toSet ++ cm.retired
      val extra = df.columns.filterNot(known)
      extra.foreach(c => if (usedPhys.contains(c)) throw new IllegalArgumentException(
        s"column $c collides with a used/retired physical slot of $path — choose a different name"))
      cm.copy(cols = cm.cols ++ extra.map(c => (c, c)))
    }
    val dfPhys = cmapCarry match {
      case None => df
      case Some(cm) =>
        val m = cm.cols.toMap
        df.select(df.columns.map(c => col(c).as(m.getOrElse(c, c))).toSeq: _*)
    }
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val rel = s"d$version-$nonce"
    val dataDir = new Path(path, rel)
    dfPhys.write.mode(SaveMode.ErrorIfExists).parquet(dataDir.toString)
    try {
      // declared row invariants run against the batch AS WRITTEN, inside
      // the same write-audit-publish gate as opt-in audits: a violation
      // aborts via the shared cleanup path, head and history untouched
      prevInv.foreach { ivd =>
        rowRulesOf(ivd).foreach { rules =>
          val staged = alignToDeclared(
            applyCmap(spark.read.option("mergeSchema", "true").parquet(dataDir.toString),
              cmapCarry),
            StructType.fromDDL(ivd.schemaDdl))
          // a zero-row staged batch (a DML rewrite that filtered every
          // row out) has NULL counters — no rows, no violations
          val report = Validation.rowChecks(staged, rules).collect()
            .map(r => (r.getString(0), if (r.isNullAt(1)) 0L else r.getLong(1))).toSeq
          if (report.exists(_._2 > 0)) throw new InvariantViolationException(report)
        }
      }
      // WAP audit gate: run the rules against the STAGED files before any
      // log entry exists; a violation aborts via the shared cleanup path
      audit.foreach { a =>
        val report = a(applyCmap(spark.read.parquet(dataDir.toString), cmapCarry))
        if (report.exists(_._2 > 0)) throw new AuditFailedException(report)
      }
      // per-file stats for the log: read from the staged files' parquet
      // FOOTERS when every stats column is a signed-integer leaf — zero
      // Spark jobs (the Iceberg shape; see [[footerStats]]) — else one
      // Spark aggregate over the staged files (the general-type path)
      val stats: Seq[Rec] = footerStats(dataDir).getOrElse(sparkStats(dataDir))
      // entry form: snapshot-complete at version 0, every checkpointEvery-th
      // version (the periodic checkpoint), and for whole-table rewrites
      // (overwrite/merge/compact — a full change IS a snapshot); DELTA for
      // appends (adds only — O(batch) log bytes) and for file-granular DML
      // (rewritten adds + removed files)
      val isCkpt = version % checkpointEvery == 0
      val fullRewrite = !keepPrevious && carriedExplicit.isEmpty
      // active-row counters: per-file rowcounts are RAW (pre-deletion-
      // vector), so when a vector is outstanding, recomputed totals must
      // net out its live entries — without this a checkpointed append or
      // CoW range DML after a delete-dv commit silently resurrects the
      // deleted rows in history().n_rows (restricting to the new active
      // names keeps entries inert files made stale from re-subtracting)
      def netOfDv(rawNr: Long, names: => Set[String]): Long = dvCarry match {
        case Some(v) => rawNr - dvNetCount(v, names)
        case None => rawNr
      }
      if (isCkpt || fullRewrite || prev.isEmpty) {
        val carried = carriedExplicit.getOrElse(
          if (keepPrevious && prev.nonEmpty) collectAdds(prev.get) else Seq.empty)
        val adds = carried ++ stats
        publish(version, op, adds, removes = Nil, delta = false,
          counters = (adds.length.toLong,
            netOfDv(adds.map(_._4).sum, adds.map(a => fileName(a._1)).toSet)),
          tsMillis = tsMillis,
          txn = txn, inv = inv, dv = dvCarry,
          cmap = cmapCarry.map(CommitTable.encodeCmap))
      } else if (carriedExplicit.isDefined) {
        val carried = carriedExplicit.get
        val carriedPaths = carried.map(_._1).toSet
        val removes = collectAdds(prev.get).map(_._1).filterNot(carriedPaths)
        publish(version, op, stats, removes, delta = true,
          counters = (carried.length.toLong + stats.length,
            netOfDv(carried.map(_._4).sum + stats.map(_._4).sum,
              (carried ++ stats).map(a => fileName(a._1)).toSet)),
          tsMillis = tsMillis,
          txn = txn, inv = inv, dv = dvCarry,
          cmap = cmapCarry.map(CommitTable.encodeCmap))
      } else {
        // plain append: the delta entry needs NO resolution of the previous
        // file list at all — counters roll forward from the head's header
        // (already net of any outstanding vector); nrDelta lets a DV-
        // writing commit ([[updateWhereDV]]) net its newly-marked rows
        val (pf, pr) = activeTotals(prev.get)
        publish(version, op, stats, removes = Nil, delta = true,
          counters = (pf + stats.length, pr + stats.map(_._4).sum + nrDelta),
          tsMillis = tsMillis,
          txn = txn, inv = inv, dv = dvCarry,
          cmap = cmapCarry.map(CommitTable.encodeCmap))
      }
    } catch {
      case e: Throwable =>
        fs.delete(dataDir, true) // staged data of a failed commit is garbage
        throw e
    }
  }

  /** Publish a commit's log entry: write the FULL content to an invisible
    * temp name, then rename-without-overwrite onto the version file. The
    * rename is the same atomic create-if-absent primitive (exactly one
    * writer wins a version), but the version only ever becomes visible
    * fully written — no reader can observe a zero-length/partial head, and
    * a crash mid-write leaves only an inert .tmp-* file versions() ignores.
    */
  private def publish(version: Long, op: String,
                      adds: Seq[Rec],
                      removes: Seq[String] = Nil,
                      delta: Boolean = false,
                      counters: (Long, Long) = (-1L, -1L),
                      tsMillis: Option[Long] = None,
                      txn: Option[(String, Long)] = None,
                      inv: Option[String] = None,
                      dv: Option[Long] = None,
                      cmap: Option[String] = None): Long = {
    // Delta's monotonicity rule: a commit whose clock reads at-or-before
    // its predecessor is recorded as predecessor + 1 ms, so timestamp
    // time travel always resolves versions in version order. Pre-timestamp
    // predecessors (no ts header) impose no floor.
    val prevTs: Option[Long] =
      if (version > 0 && fs.exists(logFile(version - 1)))
        scala.util.Try(commitTs(version - 1)).toOption
      else None
    val ts = math.max(tsMillis.getOrElse(System.currentTimeMillis()),
      prevTs.map(_ + 1L).getOrElse(Long.MinValue))
    val (nf, nr) = counters
    // conditional protocol stamp: only feature-bearing commits bump, so
    // legacy tables stay protocol 1 forever; a DELTA-encoded DV stamp
    // bumps to 3 (a protocol-2 reader resolves the sidecar with
    // overwrite semantics and would silently over-delete past an
    // orphaned append — see SupportedProtocol docs)
    val proto = CommitTable.protocolFor(inv, dv, cmap, dv.exists(dvIsDelta))
    val head = s"""{"type": "commit", "version": $version, "op": ${jsonStr(op)}""" +
      s""", "proto": $proto, "ts": $ts""" +
      (if (delta) """, "delta": true""" else "") +
      (if (nf >= 0) s""", "nf": $nf, "nr": $nr""" else "") +
      txn.map { case (a, v) => s""", "txnApp": ${jsonStr(a)}, "txnV": $v""" }.getOrElse("") +
      inv.map(j => s""", "inv": ${jsonStr(j)}""").getOrElse("") +
      dv.map(v => s""", "dvv": $v""").getOrElse("") +
      cmap.map(j => s""", "cmap": ${jsonStr(j)}""").getOrElse("") + "}"
    val lines = head +:
      (adds.map { case (p, lo, hi, n, xs) =>
        s"""{"type": "add", "version": $version, "path": ${jsonStr(p)}, "lo": $lo, "hi": $hi, "n": $n""" +
          (if (xs != null && xs.nonEmpty) s""", "xs": ${jsonStr(xs)}""" else "") + "}"
      } ++ removes.map(p =>
        s"""{"type": "remove", "version": $version, "path": ${jsonStr(p)}}"""))
    fs.mkdirs(logDir)
    // the atomicity primitive is PLUGGABLE: the
    // session's [[LogStore]] owns both contract halves (exactly one
    // winner per version; full-or-nothing visibility); any store failure
    // maps to the engine-wide conflict signal, so rebase/retry/conflict
    // semantics are store-independent
    try LogStore.forSession(spark).putIfAbsent(
      spark.sparkContext.hadoopConfiguration, logFile(version),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      throw new java.util.ConcurrentModificationException(
        s"version $version at $path was committed by another writer", e)
    }
    version
  }

  /** RESTORE the table to the content of `toVersion` as a NEW commit that
    * RE-REFERENCES that version's files — metadata-only, like Delta's
    * RESTORE: no data is rewritten (a 100 TB rollback costs one log file),
    * history is preserved (the bad versions stay inspectable via [[asOf]];
    * the restore is itself just the next version), and [[vacuum]]'s
    * reference counting protects the re-referenced directories because
    * they appear in the new head's file list. Fails loudly if any
    * restored file was already vacuumed (the version is no longer
    * restorable); concurrent commits race on the same atomic
    * rename-publish as every commit.
    */
  def restore(toVersion: Long): Long = {
    val version = nextVersion()
    val adds = collectAdds(toVersion)
    adds.foreach { case (p, _, _, _, _) =>
      require(fs.exists(new Path(absPath(p))),
        s"restore($toVersion) at $path: file $p was vacuumed — version no longer restorable")
    }
    // the restored head re-stamps toVersion's DELETION-VECTOR snapshot,
    // so that snapshot's sidecar files must still exist too: vacuum
    // reclaims `_dv` snapshots no KEPT main version stamps, while the
    // data dirs can survive via sharing with kept versions — without
    // this check the restore could commit a head whose every read then
    // fails on missing sidecar parquet (violating the fails-loudly-
    // before-committing contract above)
    dvVersionAt(toVersion).foreach { dvv =>
      val dvT = dvTable
      dvT.addsOf(dvv).map(_._1).foreach(p =>
        require(fs.exists(new Path(p)),
          s"restore($toVersion) at $path: deletion-vector snapshot $dvv file $p " +
            "was vacuumed — version no longer restorable"))
    }
    // snapshot-complete by nature (it re-lists the restored state), which
    // also resets the delta-resolution chain at this version. The CURRENT
    // declaration carries forward — restore rolls back DATA, not the
    // table's declared contract (restored content was validated when the
    // declaration landed, or predates it and reads as-is)
    // counters from the restored version's own header: its nr already
    // nets out any deletion vector in force there
    // metadata (declaration, deletion vector, column map) travels WITH
    // the restored version — Delta's RESTORE restores table metadata too
    publish(version, "restore", adds,
      counters = activeTotals(toVersion),
      inv = invariantsAt(toVersion).map(CommitTable.encodeInv),
      dv = dvVersionAt(toVersion),
      cmap = cmapAt(toVersion).map(CommitTable.encodeCmap))
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE src`): commit
    * a version of THIS table that RE-REFERENCES the source table's head
    * files absolutely — metadata-only, zero data copied (cloning a 100 TB
    * table writes one log file). The clone then evolves independently:
    * its own appends/overwrites stage local directories, the source never
    * sees them, and the source's history is untouched. Stats ride along,
    * so pruned reads work immediately.
    *
    * Caveat (Delta documents the same): the clone BORROWS the source's
    * files — a `vacuum` on the SOURCE does not know about clones and can
    * reclaim directories the clone still references (the clone's own
    * vacuum, conversely, never reaches across roots). Cloning a table
    * whose referenced files were already vacuumed fails loudly here.
    */
  def shallowCloneFrom(sourcePath: String, tsMillis: Option[Long] = None): Long = {
    require(new Path(sourcePath).toUri.getPath != new Path(path).toUri.getPath,
      s"cannot shallow-clone $path from itself")
    val src = new CommitTable(spark, sourcePath, statsCol)
    val v = src.head()
    // a clone re-references FILES; an outstanding deletion vector lives in
    // the source's OWN sidecar, which the clone does not share — cloning
    // would silently resurrect the deleted rows. OPTIMIZE materializes
    // the vector, then the head is cloneable (Delta gates DV'd shallow
    // clones the same way).
    require(src.dvVersionAt(v).isEmpty,
      s"shallowClone($sourcePath): source head has outstanding deletion vectors — run OPTIMIZE (compact) on the source first")
    val adds = src.addsOf(v).map(r => r.copy(_1 = new Path(r._1).toUri.getPath))
    adds.foreach { case (p, _, _, _, _) =>
      require(fs.exists(new Path(p)),
        s"shallowClone($sourcePath): file $p was vacuumed — source head not cloneable")
    }
    // absolute by construction; storedForm keeps them absolute downstream.
    // The clone copies the source's declaration and column map (its read
    // surface and write contract), like Delta's CLONE
    publish(nextVersion(), "clone", adds,
      counters = (adds.length.toLong, adds.map(_._4).sum), tsMillis = tsMillis,
      inv = src.invariantsAt(v).map(CommitTable.encodeInv),
      cmap = src.cmapAt(v).map(CommitTable.encodeCmap))
  }
}

object CommitTable {

  /** Shared Jackson mapper for header-borne metadata (thread-safe for
    * read/write use after construction; building one per decode showed
    * up as per-read overhead on commit-heavy loops). */
  private val Mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The highest log protocol this build READS. Writes stamp the
    * protocol CONDITIONALLY per commit ([[CommitTable.publish]]): a
    * commit carrying none of the reader-affecting metadata planes writes
    * protocol 1 (legacy tables never bump — any old reader keeps
    * working), while a commit stamping a deletion vector (`dvv`), a
    * column map (`cmap`), or a declared-invariants document (`inv`)
    * writes protocol 2 — a protocol-1 reader resolves such a version's
    * FILE LIST fine but silently returns deleted rows, physical column
    * names, or unenforced writes, which is exactly the "older resolution
    * logic would silently mis-read" case the header contract reserves
    * the bump for (Delta classifies DVs and column mapping as
    * reader-protocol table features for the same reason). A commit
    * stamping a DELTA-encoded sidecar version (the append-delta
    * chain) writes protocol 3: a protocol-2 reader resolves the sidecar
    * with snapshot/overwrite semantics, which matches the chain union
    * only while no orphaned sidecar append exists — past one it would
    * silently delete rows that were never committed deleted. Legacy
    * snapshot-sidecar stamps (and [[CommitTable.consolidateDv]]'s folds)
    * stay protocol 2. Bump again when a new action/stamp is added that
    * older readers would silently mis-read — see `checkProtocol`. */
  private[operators] val SupportedProtocol: Long = 3L

  /** The protocol a commit header must carry for an old reader to fail
    * loudly: 3 iff the stamped DV sidecar version is delta-encoded,
    * else 2 iff any reader-affecting metadata plane is stamped. */
  private[operators] def protocolFor(inv: Option[String], dv: Option[Long],
                                     cmap: Option[String],
                                     dvDelta: Boolean = false): Long =
    if (dvDelta) 3L
    else if (inv.isDefined || dv.isDefined || cmap.isDefined) 2L else 1L

  /** Delta windows whose log bytes fit here fold on the driver (the Delta
    * JVM-log-replay shape — zero cluster jobs for resolution); larger
    * windows fold distributed. 4 MiB ≈ hundreds of thousands of actions.
    */
  private[operators] val DriverFoldBytes: Long = 4L << 20

  /** What one driver-side call may read and hold: `bytes` of parquet per
    * driver read ([[CommitTable.localReadIn]] declines past it), and
    * `rows` per batch a driver loop collects or keeps
    * ([[Budget.requireRows]] fails past it). */
  private[graft] final case class Budget(bytes: Long, rows: Long) {
    /** Fails, naming the bound, when the batch of `n` rows at `site`
      * exceeds `rows`. */
    def requireRows(site: String, n: Long): Unit =
      if (n > rows) throw new DriverBudgetExceeded(
        s"$site: a batch of $n rows exceeds the driver row bound DriverBudget.rows = $rows")
  }

  /** A batch past [[Budget.rows]]; callers that can split their input
    * (the k-NN graph walks) catch it and retry in halves. */
  private[graft] final class DriverBudgetExceeded(msg: String)
    extends IllegalStateException(msg)

  /** The driver budget every caller runs under. `bytes`: a point read of
    * 64-d vectors decoded on the driver beat the Spark read and collect up
    * to about 64 MiB of cut files on 4 cores, whatever the file count
    * (SCALING.md); 32 MiB keeps a 2× margin, since more cores speed the
    * Spark side, and bounds the decoded heap of one read. `rows` caps a
    * driver batch of small tuples at tens of MB of heap. */
  private[graft] val DriverBudget: Budget = Budget(bytes = 32L << 20, rows = 1L << 20)

  /** Rows read on the driver ([[CommitTable.localReadIn]]), in Catalyst's
    * internal form, with their schema. */
  private[graft] final case class DriverRows(schema: StructType,
                                             rows: Seq[org.apache.spark.sql.catalyst.InternalRow])

  /** `df`'s rows as [[DriverRows]]: one collect of at most `budget.rows +
    * 1` rows, failing naming `site` when the frame holds more than
    * `budget.rows` — the bound is checked before a larger batch is kept. */
  private[graft] def collectWithin(df: DataFrame, site: String, budget: Budget): DriverRows = {
    val got = df.limit((budget.rows + 1).toInt).collect()
    budget.requireRows(site, got.length)
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(df.schema)
    DriverRows(df.schema, got.toSeq.map(toInternal(_).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
  }

  /** An active-file record: `(path, lo, hi, n, xs)` — stored
    * (table-relative) or resolved (absolute) path, per-file min/max on
    * the stats column, row count, encoded extra-column stats or null. */
  private[operators] type Rec = (String, Long, Long, Long, String)

  /** The JSON schema of a log entry's action lines. */
  private[operators] val ActionSchema = StructType(Seq(
    StructField("type", StringType), StructField("version", LongType),
    StructField("op", StringType), StructField("ts", LongType),
    StructField("path", StringType),
    StructField("lo", LongType), StructField("hi", LongType),
    StructField("n", LongType), StructField("xs", StringType),
    StructField("delta", org.apache.spark.sql.types.BooleanType),
    StructField("nf", LongType), StructField("nr", LongType),
    StructField("txnApp", StringType), StructField("txnV", LongType)))

  /** Decodes an add-entry's extra-stats string `"col=lo:hi;col2=lo:hi"`
    * (written by the commit path for `extraStatsCols`). */
  private[operators] def parseXs(xs: String): Map[String, (Long, Long)] =
    if (xs == null || xs.isEmpty) Map.empty
    else xs.split(";").iterator.map { part =>
      val eq = part.indexOf('=')
      val cl = part.indexOf(':', eq)
      (part.substring(0, eq),
        (part.substring(eq + 1, cl).toLong, part.substring(cl + 1).toLong))
    }.toMap

  /** Header-borne column map ↔ nested-JSON (`cmap` field): ordered
    * logical→physical entries + retired physical slots. */
  private[operators] def encodeCmap(cm: ColumnMap): String = {
    val m = Mapper
    val root = m.createObjectNode()
    val cs = root.putArray("m")
    cm.cols.foreach { case (l, p) =>
      val e = cs.addArray(); e.add(l); e.add(p); () }
    val r = root.putArray("r")
    cm.retired.foreach(r.add)
    m.writeValueAsString(root)
  }

  private[operators] def decodeCmap(headerLine: String): Option[ColumnMap] = {
    val m = Mapper
    val head = m.readTree(headerLine)
    if (!head.hasNonNull("cmap")) None
    else {
      val node = m.readTree(head.get("cmap").asText())
      import scala.jdk.CollectionConverters._
      Some(ColumnMap(
        node.get("m").elements().asScala
          .map(e => (e.get(0).asText(), e.get(1).asText())).toSeq,
        node.get("r").elements().asScala.map(_.asText()).toSeq))
    }
  }

  /** Header-borne invariant declaration ↔ its nested-JSON encoding (the
    * header is one JSON object; the declaration is a JSON document
    * carried as an escaped string field `inv`, Jackson both ways). */
  private[operators] def encodeInv(iv: TableInvariants): String = {
    val m = Mapper
    val root = m.createObjectNode()
    root.put("schema", iv.schemaDdl)
    val cs = root.putArray("checks")
    iv.checks.foreach { case (n, e) =>
      val o = cs.addObject(); o.put("name", n); o.put("expr", e); () }
    val nn = root.putArray("notNull")
    iv.notNull.foreach(nn.add)
    m.writeValueAsString(root)
  }

  private[operators] def decodeInv(headerLine: String): Option[TableInvariants] = {
    val m = Mapper
    val head = m.readTree(headerLine)
    if (!head.hasNonNull("inv")) None
    else {
      val node = m.readTree(head.get("inv").asText())
      import scala.jdk.CollectionConverters._
      Some(TableInvariants(
        node.get("schema").asText(),
        node.get("checks").elements().asScala
          .map(c => (c.get("name").asText(), c.get("expr").asText())).toSeq,
        node.get("notNull").elements().asScala.map(_.asText()).toSeq))
    }
  }

  /** Driver-side [[CommitTable.history]] over raw log-entry texts (one
    * per version): applies the same header-counter-else-add-sum
    * semantics as the distributed read — `(version, ts, op, n_files,
    * n_rows)`, ascending by version, `ts` None for pre-timestamp logs.
    */
  private[operators] def driverHistory(
      entries: Seq[String]): Seq[(Long, Option[Long], String, Long, Long)] = {
    val mapper = Mapper
    entries.map { text =>
      var version = -1L; var ts: Option[Long] = None; var op = ""
      var nf: Option[Long] = None; var nr: Option[Long] = None
      var aFiles = 0L; var aRows = 0L
      for (line <- text.split("\n") if line.nonEmpty) {
        val node = mapper.readTree(line)
        node.get("type").asText() match {
          case "commit" =>
            version = node.get("version").asLong()
            if (node.hasNonNull("ts")) ts = Some(node.get("ts").asLong())
            op = node.get("op").asText()
            if (node.hasNonNull("nf")) nf = Some(node.get("nf").asLong())
            if (node.hasNonNull("nr")) nr = Some(node.get("nr").asLong())
          case "add" =>
            aFiles += 1L
            aRows += node.get("n").asLong()
          case _ => ()
        }
      }
      (version, ts, op, nf.getOrElse(aFiles), nr.getOrElse(aRows))
    }.sortBy(_._1)
  }

  /** Last-action-per-path-wins fold over a window's raw JSONL log
    * entries (ascending version order — the first entry is the
    * snapshot-complete base): the active stored-path records, in first-add
    * order. Jackson streaming parse — Spark's own bundled JSON dependency.
    */
  private[operators] def driverFold(entries: Seq[String]): Seq[Rec] = {
    val mapper = Mapper
    val active = scala.collection.mutable.LinkedHashMap.empty[String, Rec]
    for (text <- entries; line <- text.split("\n") if line.nonEmpty) {
      val node = mapper.readTree(line)
      node.get("type").asText() match {
        case "add" =>
          val p = node.get("path").asText()
          active(p) = (p, node.get("lo").asLong(), node.get("hi").asLong(),
            node.get("n").asLong(),
            if (node.hasNonNull("xs")) node.get("xs").asText() else null)
        case "remove" =>
          active.remove(node.get("path").asText()); ()
        case _ => ()
      }
    }
    active.values.toSeq
  }

  /** [[driverFold]]'s result computed as one Spark job over the window's
    * log files (`max_by` on version per path) and collected — the path
    * for windows above [[DriverFoldBytes]]; the record order is Spark's. */
  private[operators] def distributedFold(spark: SparkSession, logFiles: Seq[String]): Seq[Rec] =
    spark.read.schema(ActionSchema).json(logFiles: _*)
      .filter(col("type") === "add" || col("type") === "remove")
      .groupBy(col("path"))
      .agg(expr("max_by(struct(type, lo, hi, n, xs), version)").as("s"))
      .filter(col("s.type") === "add")
      .select(col("path"), col("s.lo"), col("s.hi"), col("s.n"), col("s.xs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSeq
}

/** Carries the failed WAP audit report through [[CommitTable]]'s shared
  * staging-cleanup path; never escapes `appendAudited`.
  */
private final class AuditFailedException(val report: Seq[(String, Long)])
  extends RuntimeException(s"WAP audit failed: " +
    report.filter(_._2 > 0).map { case (n, c) => s"$n=$c" }.mkString(", "))

/** A table's DECLARED write contract ([[CommitTable.setInvariants]]):
  * expected schema (DDL form), named CHECK predicates, NOT NULL columns.
  * Rides in every commit header from declaration on. */
final case class TableInvariants(schemaDdl: String,
                                 checks: Seq[(String, String)],
                                 notNull: Seq[String])

/** A table's logical→physical column map ([[CommitTable.renameColumn]] /
  * [[CommitTable.dropColumn]]): `cols` is the ordered read surface
  * (logical name → stable physical file-column name); `retired` lists
  * physical slots of dropped columns, never re-bindable. */
final case class ColumnMap(cols: Seq[(String, String)], retired: Seq[String])

/** A write rejected by the table's declared invariants — schema-on-write
  * (undeclared/type-drifted/missing-NOT-NULL columns, one report entry
  * each) or row rules (entry = violation count over the staged batch).
  * The staged data is already cleaned up; head and history are untouched.
  */
final class InvariantViolationException(val report: Seq[(String, Long)])
  extends RuntimeException("table invariants violated: " +
    report.filter(_._2 > 0).map { case (n, c) => s"$n=$c" }.mkString(", "))
