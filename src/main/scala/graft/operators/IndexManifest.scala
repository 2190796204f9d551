package graft.operators

import org.apache.spark.sql.SparkSession

/** ATOMIC MULTI-TABLE index versions — the catalog-commit shape (an
  * Iceberg/Delta catalog pins a set of table snapshots; a multi-table
  * index needs the same): a persisted index is several commit-log tables
  * (vectors/graph/entries, centroids/lists, postings/stats), and its
  * build/append paths commit them one table at a time — so a reader
  * racing an append could resolve vectors at the new head but the graph
  * at the old one. The manifest closes that gap without distributed
  * locks: each index version is ONE commit on `indexRoot/manifest` whose
  * rows pin every member table's version, written AFTER the member
  * commits land. Readers that resolve through the manifest (the
  * `*SearchAt` paths) see a consistent snapshot by construction — the
  * member commits are immutable, so pinning versions IS isolation — and
  * get index-level time travel for free (`asOf` on the manifest replays
  * yesterday's whole index, not one table of it).
  *
  * Scale shape: a manifest commit is a member-count-sized row set — free
  * at any corpus size. Failure mode is benign and documented: a crash
  * between member commits and the manifest commit leaves the new member
  * versions unreferenced by any index version (invisible to manifest
  * readers), exactly an Iceberg orphaned snapshot.
  */
object IndexManifest {

  private def table(spark: SparkSession, indexRoot: String) =
    new CommitTable(spark, s"$indexRoot/manifest", "v")

  /** Pin the CURRENT head of each member table as one new index version.
    * Returns the index version (the manifest's own commit version). */
  def commit(spark: SparkSession, indexRoot: String, members: Seq[String]): Long = {
    require(members.nonEmpty, "IndexManifest.commit: need at least one member table")
    import spark.implicits._
    val rows = members.map { t =>
      (t, new CommitTable(spark, s"$indexRoot/$t", "v").latestVersion().getOrElse(
        throw new IllegalStateException(
          s"IndexManifest: member table $t has no commits at $indexRoot")))
    }
    table(spark, indexRoot).overwrite(rows.toDF("t", "v").coalesce(1))
  }

  /** The member-version map pinned by `indexVersion` (or the head when
    * None) — a member-count-sized read, decoded on the driver with no
    * Spark job ([[CommitTable.driverRows]]). */
  def resolve(spark: SparkSession, indexRoot: String,
              indexVersion: Option[Long] = None): Map[String, Long] = {
    val d = table(spark, indexRoot).driverRows(None, indexVersion,
      s"index manifest of $indexRoot", CommitTable.DriverBudget)
    val (ti, vi) = (d.schema.fieldIndex("t"), d.schema.fieldIndex("v"))
    d.rows.map(r => (r.getUTF8String(ti).toString, r.getLong(vi))).toMap
  }

  /** Committed index versions, ascending. */
  def versions(spark: SparkSession, indexRoot: String): Seq[Long] =
    table(spark, indexRoot).versions()

  /** INDEX-LEVEL retention — the step a per-member-table vacuum cannot do
    * safely: `memberTable.vacuum(keepLast = N)` keeps a version SUFFIX of
    * that one table, but an older INDEX version may pin an older member
    * version, so the per-table call would reclaim files a retained index
    * snapshot still references and silently break index time travel.
    * This resolves the kept manifest versions (last
    * `keepLastIndexVersions`) to the exact member-version set each pins,
    * then vacuums every member with THAT keep set (plus its own head —
    * a member committed ahead of a crash-orphaned manifest stays
    * readable), and finally vacuums the manifest itself. After the call,
    * every kept index version replays exactly; everything older is
    * reclaimed. Driver cost: kept-versions × member-count manifest reads
    * + one directory listing per member — never a data read. Returns the
    * number of reclaimed data directories across all member tables.
    */
  def vacuumIndex(spark: SparkSession, indexRoot: String,
                  keepLastIndexVersions: Int = 2,
                  retainMillis: Long = 0L): Long = {
    require(keepLastIndexVersions >= 1,
      s"keepLastIndexVersions must be >= 1, got $keepLastIndexVersions")
    val mt = table(spark, indexRoot)
    val vs = mt.versions()
    require(vs.nonEmpty, s"no committed index versions at $indexRoot")
    val keptIdx = vs.takeRight(keepLastIndexVersions)
    val pins = scala.collection.mutable.Map.empty[String, Set[Long]]
    keptIdx.foreach { v =>
      resolve(spark, indexRoot, Some(v)).foreach { case (t, mv) =>
        pins(t) = pins.getOrElse(t, Set.empty) + mv
      }
    }
    var reclaimed = 0L
    pins.toSeq.sortBy(_._1).foreach { case (t, mvs) =>
      val ct = new CommitTable(spark, s"$indexRoot/$t", "v")
      ct.latestVersion().foreach { h =>
        reclaimed += ct.vacuumKeeping(mvs + h, retainMillis)
      }
    }
    reclaimed + mt.vacuumKeeping(keptIdx.toSet, retainMillis)
  }
}
