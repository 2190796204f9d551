package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE INTO (SCD-1 upsert) as a relational operator.
  *
  * The reference has no mutation surface beyond whole-graph overwrite
  * (`primaryServer.c:40-63` rewrites the entire file per op-1/op-2 request);
  * a usable engine needs row-level upsert semantics: given a `target` table
  * and a `source` change-set keyed the same way,
  *
  *   - MATCHED rows take the source's values (update — source wins even when
  *     a source data column is NULL, per ANSI MERGE `UPDATE SET *`),
  *   - MATCHED rows whose source delete flag is true are dropped (delete),
  *   - NOT MATCHED source rows are appended (insert) — unless their delete
  *     flag is true, in which case the row is a no-op (deleting an absent
  *     key deletes nothing, the same outcome ANSI MERGE reaches by having
  *     no WHEN NOT MATCHED THEN DELETE clause),
  *   - NOT MATCHED BY SOURCE target rows pass through unchanged.
  *
  * Spark-first shape: ONE full-outer shuffle join on the merge keys — no
  * driver loop, no per-row lookups. At 100 TB this is the copy-on-write
  * merge every table format (Delta/Iceberg/Hudi) bottoms out in. Spark
  * cannot broadcast either side of a full outer join, so both sides
  * shuffle; with both bucketed on the key ([[Partitioning.writeBucketed]])
  * the join is exchange-free. Combine
  * with partition pruning (only rewrite partitions the source touches) to
  * keep the rewrite proportional to the change-set, not the table.
  *
  * Contract: `source` is key-unique (a change-set, not a log — compact a log
  * first with e.g. last-write-wins over [[org.apache.spark.sql.expressions.Window]]);
  * merge keys are non-null on both sides.
  */
object MergeInto {

  /** Merge `source` into `target` on `keys`. Both frames must carry the same
    * columns; `deleteCol`, when given, names a BOOLEAN column on `source`
    * only (never emitted in the result).
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
            deleteCol: Option[String] = None): DataFrame = {
    val (keep, out) = mergeColumns(target.columns.toSeq, source.columns.toSeq, keys, deleteCol)(
      c => col(s"t.$c"), c => col(s"s.$c"))
    val cond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    target.as("t").join(source.as("s"), cond, "full_outer").filter(keep).select(out: _*)
  }

  /** The merge's row filter and output Columns over one full-outer-joined
    * row, whose target and source columns `t(c)` and `s(c)` name: the one
    * list [[merge]]'s join and [[CommitTable.merge]]'s driver body both
    * evaluate. Checks the column contract. */
  private[operators] def mergeColumns(targetCols: Seq[String], sourceCols: Seq[String],
                                      keys: Seq[String], deleteCol: Option[String])(
                                      t: String => Column, s: String => Column): (Column, Seq[Column]) = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val dataCols = targetCols.filterNot(keys.contains)
    val expectedSrc = (targetCols ++ deleteCol).sorted
    require(sourceCols.sorted.sameElements(expectedSrc),
      s"source columns ${sourceCols.sorted.mkString(",")} must be target's " +
        s"plus the delete flag: ${expectedSrc.mkString(",")}")
    // keys are non-null by contract, so "the source side matched/exists"
    // is exactly "its key columns are non-null on this joined row"
    val hasSrc = keys.map(k => s(k).isNotNull).reduce(_ && _)
    val keep = deleteCol.map(d => !(hasSrc && coalesce(s(d), lit(false)))).getOrElse(lit(true))
    (keep, keys.map(k => coalesce(s(k), t(k)).as(k)) ++
      dataCols.map(c => when(hasSrc, s(c)).otherwise(t(c)).as(c)))
  }

  /** Copy-on-write MERGE into a hive-partitioned parquet table
    * ([[Partitioning.writeHivePartitioned]]'s layout): rewrite ONLY the
    * partitions the change-set touches, leave every other partition's files
    * untouched on disk (byte-identical, same mtimes — asserted in
    * `MergeCowSpec`). At 100 TB this is the difference between an upsert
    * proportional to the change-set and one proportional to the table.
    *
    * Touched-partition discovery:
    *   - partitions the source writes into (its own `partCol` values), plus
    *   - partitions currently holding a matched key — because an update may
    *     MOVE a row across partitions and a delete must erase it where it
    *     lives. This leg needs a key+partition scan of the target (the same
    *     discovery join Delta/Iceberg/Hudi run against their file stats);
    *     it is column-pruned to `keys :+ partCol` and skipped entirely when
    *     `partCol` is itself a merge key (partition-stable keys — the
    *     common date-partitioned-fact case — make discovery free).
    *
    * The merge itself runs [[merge]] on the touched SLICE only (the read
    * partition-prunes), is materialized via `localCheckpoint` (bounded by
    * the touched partitions — Spark cannot lazily overwrite a path it is
    * reading), and is written back with dynamic partition overwrite so
    * untouched directories are never listed, read, or replaced. A partition
    * whose rows are all deleted is removed explicitly (dynamic overwrite
    * only replaces partitions present in the output).
    *
    * Durability note: a real table format makes the swap atomic with a
    * manifest/snapshot commit; this operator inherits the filesystem's
    * rename semantics, the honest non-transactional baseline.
    *
    * Contract: [[merge]]'s, plus `partCol` is a target column with
    * path-safe, low-cardinality values (the hive-layout contract).
    * Returns the touched partition values as strings, sorted — the
    * observable the spec and callers audit.
    */
  def mergeCow(spark: SparkSession, path: String, source: DataFrame,
               keys: Seq[String], partCol: String,
               deleteCol: Option[String] = None): Seq[String] = {
    val target = spark.read.parquet(path)
    require(target.columns.contains(partCol), s"$partCol is not a target column")

    val srcParts = source.select(col(partCol)).distinct()
    val touchedDf =
      if (keys.contains(partCol)) srcParts
      else {
        val matchedParts = target
          .select((keys :+ partCol).map(col): _*) // column-pruned discovery scan
          .join(source.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .select(col(partCol)).distinct()
        srcParts.union(matchedParts).distinct()
      }
    val touched = touchedDf.collect().map(_.get(0))
    require(touched.length <= 100000,
      s"${touched.length} touched partitions — partCol is not low-cardinality; " +
        "use a coarser partition column or a plain merge+rewrite")
    if (touched.isEmpty) return Seq.empty

    val slice = target.filter(col(partCol).isin(touched: _*))
    val merged = merge(slice, source, keys, deleteCol).localCheckpoint(true)
    try {
      val present = merged.select(col(partCol)).distinct().collect().map(_.get(0)).toSet
      merged.repartition(col(partCol))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
      // deletes may empty a partition: dynamic overwrite never saw it, so
      // drop its directory explicitly
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.filterNot(present).foreach { v =>
        fs.delete(new Path(path, s"$partCol=$v"), true): Unit
      }
    } finally merged.unpersist()
    touched.map(String.valueOf).sorted.toSeq
  }
}
