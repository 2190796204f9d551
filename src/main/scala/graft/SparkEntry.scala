package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.{DerivedGraphs, Traversals}
import graft.queries.{Oracle, OracleInput, Query, Registry}

/** Driver contract — see SURVEY.md §7.
  *
  * Every gate query is declared once, beside its DuckDB oracle, in
  * [[graft.queries.Registry]] (one file per query family under
  * `graft/queries`). The maps below are views of that registry for the
  * mains and tools that run it.
  *
  * Float discipline: oracle-checked money aggregates are computed in exact
  * DECIMAL and cast to DOUBLE at the end (partial-aggregation order cannot
  * perturb them); iterative float results (PageRank, cosine) are rounded to a
  * grain (1e-6) far above the accumulated fp error; every other oracle column
  * is integer/string/exact.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * BFS levels over the derived graph — the reference's headline read op
    * (`secondaryServer.c:313-400`) on the engine's edge-list model.
    */
  def entry(spark: SparkSession): DataFrame =
    // driver smoke contract: flagship BFS at sf0.001. The path is
    // overridable via -Dgraft.sf.dir (a system property, deliberately
    // NOT the SPARK_GRAFT_SF_DIR env var — the driver exports that for
    // Bench, and the smoke check must stay at smoke scale); the default
    // matches the driver's environment.
    Traversals.bfs(DerivedGraphs.big(spark,
        sys.props.getOrElse("graft.sf.dir", "/root/testdata/sf0.001")),
      start = 0L, maxDepth = 12)

  /** Every declared query's Spark plan, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  /** The sf-independent oracles, by query name. */
  def oracleSql: Map[String, String] =
    Registry.all.collect { case Query(name, _, Oracle.Sql(sql)) => name -> sql }.toMap

  /** The data-dependent oracles for `sfDir` (restricted to `selected` when
    * given), merged into `oracle_sql.json` by Verify. Their shared inputs
    * are collected once, and only for the queries that need them.
    */
  def dynamicOracleSql(spark: SparkSession, sfDir: String,
                       selected: Option[Set[String]] = None): Map[String, String] = {
    val in = new OracleInput(spark, sfDir)
    Registry.all.collect {
      case Query(name, _, Oracle.Derived(sql))
          if selected.forall(_.contains(name)) => name -> sql(in)
    }.toMap
  }
}
