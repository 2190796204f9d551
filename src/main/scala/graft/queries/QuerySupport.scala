package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.llm.{Retrieval, SequentialCorpus}
import graft.operators.{CommitTable, SequentialEvents}
import Oracle.values

/** Helpers shared by more than one query family. */
private[graft] object QuerySupport {

  // decimal casts shared by the money queries (exact, overflow-safe chain:
  // (12,2)*(4,2)*(4,2) -> DECIMAL(22,6), well inside 38 digits)
  def dec12(c: String) = col(c).cast("decimal(12,2)")
  def dec4(c: String) = col(c).cast("decimal(4,2)")

  /** The BM25 query: one rare term ("dup": ~5% df in the synthetic corpus)
    * plus two common ones, so idf actually ranks; shared by the Spark
    * queries and their oracles so the two stay one definition.
    */
  val Bm25QueryTerms: Seq[String] = Seq("dup", "spark", "merge")

  /** Where the query tagged `tag` writes its export for `sfDir`.
    *
    * Verify points the root at a sibling of its output directory
    * (`graft.export.dir`), so files DuckDB later reads are private to that
    * run; other runs fall back to tmp. The sf tag keeps a later run at
    * another scale from overwriting files an oracle is about to read, and
    * the exports are deliberately not deleted on exit for the same reason.
    */
  def exportPath(tag: String, sfDir: String): String =
    sys.props.getOrElse("graft.export.dir", sys.props.getOrElse("java.io.tmpdir", "/tmp")) +
      s"/graft-$tag-" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** A commit table at `graft-<tag>-<pid>/tbl` under a freshly wiped
    * per-process root, so a query's version numbers are the same on every
    * execution. */
  def freshTable(s: SparkSession, tag: String, key: String,
                 extraStatsCols: Seq[String] = Nil, checkpointEvery: Int = 10): CommitTable =
    new CommitTable(s, IndexCache.freshRoot(tag).resolve("tbl").toString, key,
      extraStatsCols, checkpointEvery)

  /** t37's top-15 BM25 mirror: idf derived independently from the texts. */
  def bm25Sql(in: OracleInput): String =
    Retrieval.bm25TopKSql(SequentialCorpus.bm25Idf(in.texts, Bm25QueryTerms), k = 15)

  /** The independent DSIR weights as a `(d, w)` relation. */
  def dsirValues(in: OracleInput): String =
    values("d" -> "BIGINT", "w" -> "BIGINT")(SequentialCorpus.dsirWeights(in.docs))

  /** The sequential view → click → purchase automaton over the events. */
  def eventPatternOracle(in: OracleInput): String =
    values("user_id" -> "BIGINT", "n_events" -> "BIGINT", "n_matches" -> "BIGINT")(
      SequentialEvents.patternCounts(in.events, Seq("view", "click", "purchase")), "user_id")
}
