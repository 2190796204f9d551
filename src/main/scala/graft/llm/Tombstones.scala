package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The DELETE half of the persisted-index lifecycle, shared by every index
  * family (IVF/PQ lists, k-NN graph, BM25 postings): a DELETE-LIST side
  * table — the shape Lucene ships as per-segment deleted-doc bitsets and
  * FreshDiskANN (Singh et al. 2021) as its DeleteList — rather than an
  * eager rewrite, because a physical delete from a clustered index file
  * layout is a corpus-sized job while a tombstone append is O(deleted):
  *
  *  - [[delete]] commits the deleted ids as ONE atomic append on
  *    `indexRoot/tombstones` — no index file is read or rewritten, and the
  *    ids are visible to every subsequent query;
  *  - query paths call [[exclude]] — a broadcast anti-join that keeps
  *    deleted ids out of RESULTS immediately (each family documents what
  *    "immediately" means for its derived statistics — the Lucene
  *    stale-stats contract);
  *  - a periodic CONSOLIDATION (each family's `consolidate*Index`)
  *    physically rewrites the index without the deleted rows and calls
  *    [[clear]], restoring rebuild-exact state.
  *
  * Scale contract: the delete list is bounded by the consolidation cadence
  * (the maintenance loop that already runs OPTIMIZE — st22's discipline),
  * so the anti-join's broadcast side is the accumulated deletes of one
  * maintenance window, never corpus-sized.
  */
object Tombstones {

  private def table(spark: SparkSession, indexRoot: String, idCol: String) =
    new graft.operators.CommitTable(spark, s"$indexRoot/tombstones", idCol)

  /** Commits `ids` (any frame carrying `idCol`; cast to long, de-duplicated
    * within the batch) as one atomic tombstone append. Returns the
    * committed tombstone version. Re-deleting an id is harmless (the
    * anti-join is idempotent); consolidation clears everything.
    */
  def delete(ids: DataFrame, indexRoot: String, idCol: String): Long = {
    val spark = ids.sparkSession
    val rows = ids.select(col(idCol).cast("long").as(idCol)).distinct()
      .repartitionByRange(col(idCol))
    val t = table(spark, indexRoot, idCol)
    if (t.latestVersion().isDefined) t.append(rows) else t.overwrite(rows)
  }

  /** The current delete list, or None when no tombstone commit exists (the
    * common case — every query path calls this, so absence must be one
    * log-directory listing, not an exception).
    */
  def read(spark: SparkSession, indexRoot: String, idCol: String): Option[DataFrame] = {
    val t = table(spark, indexRoot, idCol)
    t.latestVersion().map(_ => t.read().select(col(idCol)).distinct())
  }

  /** The delete list AS OF a committed tombstone version (the versioned
    * read behind multi-state instruments: tombstone commits are immutable,
    * so reading version v after later commits equals the live read at v).
    */
  def readAt(spark: SparkSession, indexRoot: String, idCol: String,
             version: Long): DataFrame =
    table(spark, indexRoot, idCol).asOf(version).select(col(idCol)).distinct()

  /** Latest committed tombstone version, if the delete list exists —
    * what a manifest commit pins so readers resolve postings and their
    * matching delete list as ONE snapshot (a reader pairing OLD pinned
    * postings with an already-cleared live list would transiently
    * resurrect deleted documents).
    */
  def latestVersion(spark: SparkSession, indexRoot: String,
                    idCol: String): Option[Long] =
    table(spark, indexRoot, idCol).latestVersion()

  /** The latest delete list as driver data (empty when no tombstone
    * commit exists), resolved once for search paths that drop the same
    * ids from several row sets: read on the driver within `budget`, else
    * one collect ([[graft.operators.CommitTable.driverRows]]). A list of
    * more than `budget.rows` ids fails, naming the bound — consolidation
    * keeps it to one maintenance window's deletes. */
  private[llm] def latestIds(spark: SparkSession, indexRoot: String, idCol: String,
                             budget: graft.operators.CommitTable.Budget): Set[Long] = {
    val t = table(spark, indexRoot, idCol)
    t.latestVersion().fold(Set.empty[Long]) { v =>
      val d = t.driverRows(None, Some(v), s"delete list of $indexRoot", budget)
      val i = d.schema.fieldIndex(idCol)
      d.rows.collect { case r if !r.isNullAt(i) => r.getLong(i) }.toSet
    }
  }

  /** The delete list at tombstone `version` decoded on the driver with no
    * Spark job ([[graft.operators.CommitTable.localRead]]); None when that
    * read declines or the list holds a null id, which the anti-join of
    * [[excludeIn]] matches against nothing. */
  private[llm] def localIdsAt(spark: SparkSession, indexRoot: String, idCol: String, version: Long,
                              budget: graft.operators.CommitTable.Budget): Option[Set[Long]] =
    table(spark, indexRoot, idCol).localRead(Some(version), budget).flatMap { d =>
      val i = d.schema.fieldIndex(idCol)
      if (d.schema(i).dataType != LongType || d.rows.exists(_.isNullAt(i))) None
      else Some(d.rows.map(_.getLong(i)).toSet)
    }

  /** [[exclude]] against the delete list AS OF a pinned version (the
    * manifest-resolved read path); `version` None falls back to the live
    * head, preserving the pre-manifest behavior for legacy roots.
    */
  def excludeAt(df: DataFrame, indexRoot: String, idCol: String,
                joinCol: String, version: Option[Long]): DataFrame =
    version match {
      case None => exclude(df, indexRoot, idCol, joinCol)
      case Some(v) => excludeIn(df, readAt(df.sparkSession, indexRoot, idCol, v), idCol, joinCol)
    }

  /** `df` minus the rows whose `joinCol` is tombstoned — a broadcast
    * anti-join (delete list bounded by the consolidation cadence); the
    * identity when no tombstone table exists.
    */
  def exclude(df: DataFrame, indexRoot: String, idCol: String,
              joinCol: String): DataFrame =
    read(df.sparkSession, indexRoot, idCol).fold(df)(excludeIn(df, _, idCol, joinCol))

  /** `df` minus the rows whose `joinCol` is on the already-resolved delete
    * list `ts` (an `idCol` frame) — the one anti-join behind [[exclude]]
    * and [[excludeAt]], for callers that resolve the list once and apply
    * it several times. */
  private[llm] def excludeIn(df: DataFrame, ts: DataFrame, idCol: String,
                             joinCol: String): DataFrame =
    df.join(broadcast(ts.withColumnRenamed(idCol, "__tomb_id")),
      df(joinCol) === col("__tomb_id"), "left_anti")

  /** Empties the delete list as one commit (consolidation's last step);
    * old tombstone versions stay readable via the log's asOf, so "what was
    * deleted when" remains auditable. No-op when no tombstones exist.
    */
  def clear(spark: SparkSession, indexRoot: String, idCol: String): Unit = {
    val t = table(spark, indexRoot, idCol)
    if (t.latestVersion().isDefined)
      t.overwrite(spark.range(0).select(col("id").cast("long").as(idCol)))
  }
}
