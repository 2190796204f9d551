package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.graph.DerivedGraphs
import graft.streaming.EventStreams

/** One gate query: the Spark plan `run(spark, sfDir)` and the DuckDB oracle
  * its result must hash-match. The oracle is a required field, so a query
  * cannot be declared without its correctness check.
  */
final case class Query(name: String, run: (SparkSession, String) => DataFrame, oracle: Oracle)

/** The SQL DuckDB runs over the same parquet tables as the Spark side.
  * Column names and deterministic ORDER BY match the Spark side (the gate
  * sorts columns by name and hash-compares values).
  */
sealed trait Oracle

object Oracle {

  /** sf-independent SQL. */
  final case class Sql(text: String) extends Oracle

  /** SQL computed against the data: an independent sequential mirror's
    * rows emitted as a `VALUES` literal, or a query over an sf-tagged
    * export path.
    */
  final case class Derived(sql: OracleInput => String) extends Oracle

  /** `SELECT CAST(c0 AS T0) AS name0, … FROM (VALUES …)` over `rows`, one
    * tuple (or bare scalar) per row; a typed empty SELECT when `rows` is
    * empty, since DuckDB cannot type an empty `VALUES` list. Fields render
    * as SQL literals: strings quoted, `None` as NULL.
    */
  def values(cols: (String, String)*)(rows: Seq[Any], orderBy: String = ""): String =
    if (rows.isEmpty)
      cols.map { case (n, t) => s"CAST(NULL AS $t) AS $n" }.mkString("SELECT ", ", ", " WHERE 1 = 0")
    else {
      def lit(v: Any): String = v match {
        case s: String => "'" + s.replace("'", "''") + "'"
        case None => "NULL"
        case Some(x) => lit(x)
        case x => x.toString
      }
      val tuples = rows.map {
        case p: Product => p.productIterator.map(lit).mkString("(", ", ", ")")
        case v => s"(${lit(v)})"
      }
      val names = cols.indices.map(i => s"c$i")
      val select = cols.zip(names).map { case ((n, t), c) => s"CAST($c AS $t) AS $n" }
      s"SELECT ${select.mkString(", ")} FROM (VALUES ${tuples.mkString(", ")}) AS t(${
        names.mkString(", ")})" + (if (orderBy.isEmpty) "" else s" ORDER BY $orderBy")
    }
}

/** The data [[Oracle.Derived]] oracles read. Each collection is built at
  * most once per instance, and only when a selected oracle touches it;
  * collected inputs are gate-scale by contract.
  */
final class OracleInput(val spark: SparkSession, val sfDir: String) {

  /** `DerivedGraphs.small` edges, the input of the sequential graph models. */
  lazy val smallEdges: Seq[(Long, Long)] = DerivedGraphs.small(spark, sfDir)
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Embedding vectors by id. */
  lazy val vectors: Seq[(Long, IndexedSeq[Double])] = Tables.embeddings(spark, sfDir)
    .select(col("vec_id").cast("long"), col("embedding"))
    .collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toIndexedSeq))
    .toSeq

  /** Document texts in table order. */
  lazy val texts: Seq[String] = collectTexts(Tables.documents(spark, sfDir))

  /** `(doc_id, text, lang)` in table order. */
  lazy val docs: Seq[(Long, String, String)] = Tables.documents(spark, sfDir)
    .select(col("doc_id").cast("long"), col("text"), col("lang"))
    .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  /** Normalized `(user_id, ts_us, event_id, event_type)` events. */
  lazy val events: Seq[(Long, Long, Long, String)] =
    EventStreams.normalized(Tables.events(spark, sfDir))
      .select(col("user_id").cast("long"), col("ts_us").cast("long"),
        col("event_id").cast("long"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq

  /** Texts of the documents satisfying `cond`, in table order. */
  def textsWhere(cond: Column): Seq[String] =
    collectTexts(Tables.documents(spark, sfDir).filter(cond))

  private def collectTexts(docs: DataFrame): Seq[String] =
    docs.select(col("text")).collect().map(_.getString(0)).toSeq
}

/** Every gate query, each declared once beside its oracle. */
object Registry {

  lazy val all: Seq[Query] = build(GraphQueries.all ++ RelationalQueries.all ++
    StorageQueries.all ++ TextQueries.all ++ SimilarityQueries.all ++
    StreamQueries.all ++ MediaQueries.all)

  /** `queries`, refusing a duplicate name (a `Map` would keep only the last). */
  def build(queries: Seq[Query]): Seq[Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    queries
  }
}
