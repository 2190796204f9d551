package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedMutableProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 keeps these conversions
  * `private[sql]`, so extension libraries host a one-liner inside an
  * `org.apache.spark.sql` subpackage — the standard pattern for shipping
  * custom Catalyst expressions (no Spark internals are modified).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field, element and value nullable — the schema a
    * file-source read surfaces (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** A DataFrame over driver rows of `schema` — a LocalRelation, so Spark
    * folds projections and filters over it on the driver. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `cols` as a driver function over row batches of `schema`, and its
    * output schema: the Columns resolved once against a LocalRelation of
    * `schema`, then evaluated per row by Catalyst's interpreted projection
    * — the evaluation `ConvertToLocalRelation` performs when Spark folds
    * the same projection over a LocalRelation, without a query's planning
    * and execution per batch. */
  def localProjection(spark: SparkSession, schema: StructType,
                      cols: Seq[Column]): (StructType, Seq[InternalRow] => Seq[InternalRow]) =
    localFrame(spark, schema, Nil).select(cols: _*).queryExecution.analyzed match {
      case p @ Project(list, child) =>
        (p.schema, rows => {
          val proj = new InterpretedMutableProjection(list, child.output)
          proj.initialize(0)
          rows.map(r => proj(r).copy())
        })
      case other => throw new IllegalStateException(s"not a projection: $other")
    }

  /** Spark's parquet write of `df` into the new directory `dir`, run on the
    * driver, when `df`'s optimized plan is a LocalRelation — bare, or
    * coalesced to one partition — of at most `maxRows` rows and `maxBytes`
    * of estimated size; false, with nothing written, otherwise. The files
    * are the ones Spark's write makes: a bare relation's rows split as its
    * scan slices them (`min(rows, leaf parallelism)` parts), each part
    * split again past `spark.sql.files.maxRecordsPerFile`, and an empty
    * relation writes one empty file. Each file goes through the writer
    * `ParquetFileFormat.prepareWrite` makes for the job — the function a
    * write task runs — under Spark's file names, then `_SUCCESS`. */
  def writeLocalParquet(df: DataFrame, dir: String, maxRows: Long, maxBytes: Long): Boolean = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) return false
    val plan = qe.optimizedPlan
    val parts: Option[(LocalRelation, Seq[Seq[InternalRow]])] = plan match {
      case r: LocalRelation if !r.isStreaming =>
        val n = r.data.length
        val slices = math.max(1, math.min(n, session.leafNodeDefaultParallelism))
        // ParallelCollectionRDD's slice bounds
        Some((r, (0 until slices).map(i =>
          r.data.slice((i.toLong * n / slices).toInt, ((i + 1).toLong * n / slices).toInt))))
      case Repartition(1, false, r: LocalRelation) if !r.isStreaming => Some((r, Seq(r.data)))
      case _ => None
    }
    parts match {
      case Some((r, slices)) if r.data.length <= maxRows && plan.stats.sizeInBytes <= maxBytes =>
        val perFile = session.sessionState.conf.maxRecordsPerFile
        val schema = DataTypeUtils.fromAttributes(r.output)
        val job = Job.getInstance(session.sessionState.newHadoopConf())
        job.setOutputKeyClass(classOf[Void])
        job.setOutputValueClass(classOf[InternalRow])
        val out = new Path(dir)
        FileOutputFormat.setOutputPath(job, out)
        val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
        val conf = job.getConfiguration
        val fs = out.getFileSystem(conf)
        if (!fs.mkdirs(out) || fs.listStatus(out).nonEmpty)
          throw new java.io.IOException(s"path $dir already exists")
        val jobId = java.util.UUID.randomUUID().toString
        slices.zipWithIndex.foreach { case (rows, split) =>
          val ctx = new TaskAttemptContextImpl(conf,
            new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, split), 0))
          val files = if (perFile > 0 && rows.nonEmpty) rows.grouped(perFile.toInt).toSeq else Seq(rows)
          files.zipWithIndex.foreach { case (chunk, c) =>
            val w = factory.newInstance(new Path(out,
              f"part-$split%05d-$jobId-c$c%03d${factory.getFileExtension(ctx)}").toString, schema, ctx)
            try chunk.foreach(w.write) finally w.close()
          }
        }
        fs.create(new Path(out, "_SUCCESS")).close()
        true
      case _ => false
    }
  }

  /** Materialize the driver's StateStoreCoordinator RPC endpoint (a
    * `private[sql]` lazy member that normally only a streaming query start
    * touches). BATCH `transformWithState` tasks still resolve it, so a
    * batch-first run in a fresh session would otherwise die with
    * RpcEndpointNotFound.
    */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.streams match {
      case m: org.apache.spark.sql.classic.StreamingQueryManager =>
        m.stateStoreCoordinator: Unit
      case _ => ()
    }
}
