package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Num
import graft.graph.{DerivedGraphs, GraphCatalog, Motifs, Traversals}
import graft.llm.{Dedup, KnnGraph, Sampling, SequentialCorpus, Similarity, TextOps}
import graft.operators.{MergeInto, Partitioning, Sessionization, SnapshotDiff, TemporalJoins, Validation}
import graft.streaming.EventStreams
import Oracle.{Derived, Sql}
import QuerySupport._

/** Relational, event-analytics and pipeline queries: aggregation, joins,
  * window functions, as-of and interval joins, the SQL surface (TVFs) and
  * the multi-stage curation / retrieval pipelines.
  */
private[graft] object RelationalQueries {

  val all: Seq[Query] = Seq(
    Query("q1_pricing_summary", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec12("l_quantity")).cast("double").as("sum_qty"),
          sum(dec12("l_extendedprice")).cast("double").as("sum_base_price"),
          sum(dec12("l_extendedprice") * (lit(1) - dec4("l_discount"))).cast("double").as("sum_disc_price"),
          sum(dec12("l_extendedprice") * (lit(1) - dec4("l_discount")) * (lit(1) + dec4("l_tax")))
            .cast("double").as("sum_charge"),
          (sum(dec12("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Sql("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q6_forecast_revenue", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= expr("TIMESTAMP'1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP'1997-01-01 00:00:00'") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(dec12("l_extendedprice") * dec4("l_discount")).cast("double").as("revenue")),
      Sql("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),
    Query("q9_cube_counts", (s, dir) => // full cube (all grouping combinations)
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus")),
      Sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  GROUPING(l_returnflag)::BIGINT AS g_rf, GROUPING(l_linestatus)::BIGINT AS g_ls
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)),
    Query("q7_rollup_revenue", (s, dir) => // grouping-sets surface: rollup with
      // GROUPING disambiguators; integer-exact measures
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec12("l_quantity")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus")),
      Sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  GROUPING(l_returnflag)::BIGINT AS g_rf, GROUPING(l_linestatus)::BIGINT AS g_ls
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)),
    Query("q19_correlated", (s, dir) => { // the spark.sql() entry path itself
      // plus a correlated scalar subquery (Catalyst rewrites it to an
      // aggregate + join — no per-row re-execution); ties on the max all
      // count, same as the oracle
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_mktsegment, COUNT(*) AS n_top,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_top
          |FROM customer_v c JOIN orders_v o ON o.o_custkey = c.c_custkey
          |WHERE o.o_totalprice = (SELECT MAX(o2.o_totalprice)
          |                        FROM orders_v o2 WHERE o2.o_custkey = c.c_custkey)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
      Sql("""SELECT c_mktsegment, COUNT(*) AS n_top,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_top
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |WHERE o.o_totalprice = (SELECT MAX(o2.o_totalprice)
        |                        FROM orders o2 WHERE o2.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("q18_grouping_sets", (s, dir) => // arbitrary GROUPING SETS — the
      // non-hierarchical combination {(flag), (status)} that neither
      // rollup (q7) nor cube (q9) expresses; one Expand, one shuffle
      Tables.lineitem(s, dir)
        .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec12("l_quantity")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus"),
      Sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  GROUPING(l_returnflag)::BIGINT AS g_rf, GROUPING(l_linestatus)::BIGINT AS g_ls
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)),
    Query("q8_distinct_agg", (s, dir) => // distinct aggregation (two distinct
      // columns in one agg forces Spark's expand-based distinct plan)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Sql("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("q11_topk_udaf", (s, dir) => { // typed Aggregator UDAF: bounded O(k)
      // per-group state through the partial/merge path — the scale-safe
      // form of top-N-per-group (no full per-group sort/materialization)
      import graft.functions.Aggregators
      val topk = udaf(new Aggregators.TopKByScore(3))
      EventStreams.normalized(Tables.events(s, dir))
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(topk(col("n"), col("user_id")).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          col("t.score").as("n_events"), col("t.id").as("user_id"))
        .orderBy("event_type", "rank")
    },
      Sql("""WITH c AS (SELECT event_type, user_id, COUNT(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, n,
        |             row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rank
        |      FROM c)
        |SELECT event_type, rank::BIGINT AS rank, n AS n_events, user_id
        |FROM r WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin)),
    Query("q31_scd2_history", (s, dir) => {
      // SCD Type-2 historization (the warehouse dimension-build): each
      // customer's order-priority CHANGE LOG compressed to validity
      // ranges [valid_from, valid_to) — consecutive repeats collapse
      // (lag-compare), valid_to = the next change's date, NULL marks the
      // current row. Epoch-day ints; (date, orderkey) totally orders each
      // key's history so the compression is deterministic. The lag and
      // the post-filter lead need two window passes (the second runs on
      // the compressed rows), but both share one Exchange on custkey and
      // the second sort is over already-clustered rows.
      val w = Window.partitionBy("o_custkey").orderBy(col("eff_d"), col("o_orderkey"))
      val w2 = Window.partitionBy("o_custkey").orderBy(col("eff_d"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("eff_d"))
        .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
        .withColumn("valid_to_d", lead(col("eff_d"), 1).over(w2))
        .select(col("o_custkey"), col("o_orderpriority"),
          col("eff_d").as("valid_from_d"), col("valid_to_d"),
          col("valid_to_d").isNull.as("is_current"))
        .orderBy("o_custkey", "valid_from_d")
    },
      // lag-compress then lead for validity ranges
      Sql("""WITH h AS (SELECT o_custkey, o_orderkey, o_orderpriority,
        |                  (o_orderdate::DATE - DATE '1970-01-01') AS eff_d,
        |                  lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |                    ORDER BY (o_orderdate::DATE - DATE '1970-01-01'), o_orderkey) AS prev
        |           FROM orders),
        |c AS (SELECT o_custkey, o_orderkey, o_orderpriority, eff_d FROM h
        |      WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey, o_orderpriority, eff_d::BIGINT AS valid_from_d,
        |       (lead(eff_d) OVER (PARTITION BY o_custkey ORDER BY eff_d, o_orderkey))::BIGINT AS valid_to_d,
        |       (lead(eff_d) OVER (PARTITION BY o_custkey ORDER BY eff_d, o_orderkey)) IS NULL AS is_current
        |FROM c ORDER BY o_custkey, valid_from_d""".stripMargin)),
    Query("e33_mad_outliers", (s, dir) => {
      // robust outlier detection by MEDIAN ABSOLUTE DEVIATION — the
      // Hampel rule that survives what z-scores can't (the outliers
      // themselves corrupt a mean/stddev; the median and MAD resist up
      // to 50% contamination): per segment, median order price (cents),
      // MAD, and the count of orders beyond the 3σ-equivalent fence
      // |x − med| · 10000 > 44478 · MAD (3 · 1.4826 scale factor,
      // cross-multiplied — integer-exact). percentile_disc keeps every
      // quantile an EXISTING cents value on both engines.
      val ord = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"),
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      ord.createOrReplaceTempView("ord_e33")
      s.sql(
        """WITH med AS (
          |  SELECT c_mktsegment,
          |         percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS med_c
          |  FROM ord_e33 GROUP BY c_mktsegment),
          |dev AS (
          |  SELECT o.c_mktsegment, o.cents, m.med_c, abs(o.cents - m.med_c) AS adev
          |  FROM ord_e33 o JOIN med m ON m.c_mktsegment = o.c_mktsegment),
          |mad AS (
          |  SELECT c_mktsegment,
          |         percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad_c
          |  FROM dev GROUP BY c_mktsegment)
          |SELECT d.c_mktsegment, COUNT(*) AS n,
          |       CAST(MIN(d.med_c) AS BIGINT) AS median_c,
          |       CAST(MIN(m.mad_c) AS BIGINT) AS mad_c,
          |       SUM(CASE WHEN d.adev * 10000 > 44478 * m.mad_c THEN 1 ELSE 0 END) AS n_outliers
          |FROM dev d JOIN mad m ON m.c_mktsegment = d.c_mktsegment
          |GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""".stripMargin)
    },
      // same join, same cents, same discrete
      // quantiles, same cross-multiplied Hampel fence
      Sql("""WITH ord AS (
        |  SELECT c_mktsegment, (o_totalprice * 100)::BIGINT AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |med AS (SELECT c_mktsegment, quantile_disc(cents, 0.5) AS med_c
        |        FROM ord GROUP BY c_mktsegment),
        |dev AS (SELECT o.c_mktsegment, o.cents, m.med_c, abs(o.cents - m.med_c) AS adev
        |        FROM ord o JOIN med m USING (c_mktsegment)),
        |mad AS (SELECT c_mktsegment, quantile_disc(adev, 0.5) AS mad_c
        |        FROM dev GROUP BY c_mktsegment)
        |SELECT d.c_mktsegment, COUNT(*) AS n,
        |       MIN(d.med_c)::BIGINT AS median_c, MIN(m.mad_c)::BIGINT AS mad_c,
        |       SUM(CASE WHEN d.adev * 10000 > 44478 * m.mad_c THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM dev d JOIN mad m USING (c_mktsegment)
        |GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""".stripMargin)),
    Query("q30_percentile_disc", (s, dir) =>
      // the DISCrete percentile family (q12 is the interpolated CONT one):
      // percentile_disc returns an EXISTING value (first whose cumulative
      // share >= p, the ANSI definition both engines implement), so the
      // result is exact with no interpolation arithmetic at all
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)")
            .cast("double").as("p25_disc"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
            .cast("double").as("p50_disc"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity)")
            .cast("double").as("p75_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Sql("""SELECT l_returnflag,
        |  CAST(quantile_disc(l_quantity, 0.25) AS DOUBLE) AS p25_disc,
        |  CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE) AS p50_disc,
        |  CAST(quantile_disc(l_quantity, 0.75) AS DOUBLE) AS p75_disc,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("q12_percentiles", (s, dir) => { // exact interpolated percentiles —
      // sort-based agg; values are small integers so the (n-1)p linear
      // interpolation is dyadic-exact in both engines
      val pcts = expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(pcts.as("p"))
        .select(col("l_returnflag"),
          element_at(col("p"), 1).as("p25"),
          element_at(col("p"), 2).as("p50"),
          element_at(col("p"), 3).as("p75"))
        .orderBy("l_returnflag")
    },
      Sql("""SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("q14_bucketed_join", (s, dir) => {
      // physical-layout surface bound to the gate: both sides bucketed on
      // the join key at write time, so the join itself plans with ZERO
      // Exchange (the structural no-shuffle assertion lives in
      // PartitioningSpec; this entry pins result correctness). At 100 TB
      // this is the write-once-join-many pattern: the bucketed write is the
      // only shuffle the key ever pays.
      Partitioning.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        "graft_bkt_orders", "o_orderkey")
      Partitioning.writeBucketed(
        Tables.lineitem(s, dir).select(col("l_orderkey"), dec12("l_quantity").as("qty")),
        "graft_bkt_lineitem", "l_orderkey")
      Partitioning.readTable(s, "graft_bkt_lineitem")
        .join(Partitioning.readTable(s, "graft_bkt_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("qty")).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    },
      // the oracle sees only the SEMANTICS (plain join
      // + agg over the source tables); the bucketed layout is the plan
      // property under test in PartitioningSpec
      Sql("""SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("q15_salted_join", (s, dir) => {
      // the skew-mitigation surface bound to the gate: the salted join must
      // return EXACTLY what the plain join returns (salting only respreads
      // hot keys across reducers), so the oracle is the unsalted SQL join
      val big = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o_orderkey"), dec12("l_quantity").as("qty"))
      val small = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
      Partitioning.saltedJoin(big, small, "o_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("qty")).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    },
      // salting must be result-invariant: same oracle
      // shape as the plain join
      Sql("""SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("q22_null_safe_join", (s, dir) => {
      // null-safe equality join (<=>, a distinct Catalyst code path from
      // plain = : EqualNullSafe matches NULL with NULL) over derived
      // nullable keys, FULL OUTER so unmatched key domains survive; the
      // oracle mirrors with IS NOT DISTINCT FROM. Sort order pins NULL
      // placement explicitly (Spark defaults NULLS FIRST asc, DuckDB LAST).
      val c = Tables.customer(s, dir)
        .select(expr("nullif(c_custkey % 5, 2)").as("ck"))
        .groupBy("ck").agg(count(lit(1)).as("n_cust"))
      val sup = Tables.supplier(s, dir)
        .select(expr("nullif(s_suppkey % 7, 3)").as("sk"))
        .groupBy("sk").agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("ck") <=> col("sk"), "full_outer")
        .select(col("ck"), col("sk"), col("n_cust"), col("n_supp"))
        .orderBy(col("ck").asc_nulls_first, col("sk").asc_nulls_first)
    },
      Sql("""WITH c AS (SELECT nullif(c_custkey % 5, 2) AS ck, COUNT(*) AS n_cust
        |           FROM customer GROUP BY 1),
        |s AS (SELECT nullif(s_suppkey % 7, 3) AS sk, COUNT(*) AS n_supp
        |      FROM supplier GROUP BY 1)
        |SELECT ck, sk, n_cust, n_supp
        |FROM c FULL OUTER JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
        |ORDER BY ck NULLS FIRST, sk NULLS FIRST""".stripMargin)),
    Query("q25_arg_extremes", (s, dir) => {
      // max_by/min_by arg-extremum aggregates (Catalyst MaxBy/MinBy — a
      // different aggregate path from max/min: the ordering value and the
      // returned value are different columns, no join-back or window
      // needed). Ties made impossible by folding the tie-break into ONE
      // integer ordering scalar (balance cents ⊕ custkey — exact, and
      // identical arithmetic on both engines). The custkey slot is 10^10
      // wide: TPC-H custkey = 150k·sf, so it holds to sf≈66000, and
      // |bal_c|·10^10 ≤ ~10^16 stays well inside Long.
      val c = Tables.customer(s, dir).select(col("c_nationkey"), col("c_custkey"),
          (dec12("c_acctbal") * 100).cast("long").as("bal_c"))
        .withColumn("v", col("bal_c") * 10000000000L + col("c_custkey"))
      c.groupBy("c_nationkey")
        .agg(max_by(col("c_custkey"), col("v")).as("richest"),
          min_by(col("c_custkey"), col("v")).as("poorest"),
          max(col("bal_c")).as("max_bal_c"))
        .orderBy("c_nationkey")
    },
      Sql("""WITH c AS (SELECT c_nationkey, c_custkey,
        |                  CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_c
        |           FROM customer),
        |v AS (SELECT *, bal_c * 10000000000 + c_custkey AS v FROM c)
        |SELECT c_nationkey, arg_max(c_custkey, v) AS richest,
        |       arg_min(c_custkey, v) AS poorest, MAX(bal_c) AS max_bal_c
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("e30_higher_order", (s, dir) => {
      // higher-order array functions through the SQL surface: per order,
      // the line quantities as a sorted array folded/filtered/mapped with
      // lambda expressions (aggregate/filter/transform — the codegen'd
      // array algebra the llm/ operators lean on, here exercised as
      // user-facing SQL); scalar outputs so the gate compares exactly
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql(
        """WITH q AS (SELECT l_orderkey, array_sort(collect_list(CAST(l_quantity AS BIGINT))) AS qtys
          |           FROM lineitem_v WHERE l_orderkey % 100 = 0
          |           GROUP BY l_orderkey)
          |SELECT l_orderkey,
          |       CAST(size(qtys) AS BIGINT) AS n_items,
          |       aggregate(qtys, CAST(0 AS BIGINT), (a, x) -> a + x) AS total_qty,
          |       CAST(size(filter(qtys, x -> x > 30)) AS BIGINT) AS n_heavy,
          |       element_at(transform(qtys, x -> x * 3 + 1), 1) AS min_mapped
          |FROM q ORDER BY l_orderkey""".stripMargin)
    },
      Sql("""WITH q AS (SELECT l_orderkey, list_sort(list_transform(list(l_quantity), x -> x::BIGINT)) AS qtys
        |           FROM lineitem WHERE l_orderkey % 100 = 0
        |           GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |       len(qtys)::BIGINT AS n_items,
        |       list_sum(qtys)::BIGINT AS total_qty,
        |       len(list_filter(qtys, x -> x > 30))::BIGINT AS n_heavy,
        |       list_transform(qtys, x -> x * 3 + 1)[1]::BIGINT AS min_mapped
        |FROM q ORDER BY l_orderkey""".stripMargin)),
    Query("e28_filtered_aggs", (s, dir) => {
      // the FILTER clause on aggregates (SQL:2003) — one scan, several
      // differently-predicated aggregates per group, incl. FILTER on a
      // DISTINCT aggregate; avg in integer permille so the compare is
      // exact; exercised through the SQL surface (spark.sql), not the
      // Column API
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag,
          |       COUNT(*) AS n_all,
          |       COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
          |       CAST(SUM(l_quantity) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS qty_discounted,
          |       COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 40) AS n_heavy_suppliers,
          |       CAST(SUM(l_quantity) FILTER (WHERE l_quantity > 25) AS BIGINT) * 1000
          |         div COUNT(*) FILTER (WHERE l_quantity > 25) AS heavy_avg_1e3
          |FROM lineitem_v
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },
      Sql("""SELECT l_returnflag,
        |       COUNT(*) AS n_all,
        |       COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
        |       CAST(SUM(l_quantity) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS qty_discounted,
        |       COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 40) AS n_heavy_suppliers,
        |       CAST(SUM(l_quantity) FILTER (WHERE l_quantity > 25) AS BIGINT) * 1000
        |         // COUNT(*) FILTER (WHERE l_quantity > 25) AS heavy_avg_1e3
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("e29_rank_family", (s, dir) => {
      // the full relative-rank window family on ONE window spec:
      // percent_rank ((rank-1)/(n-1): IEEE-exact on both engines),
      // cume_dist, ntile(4) — tie-broken to a total order so ntile's
      // row_number-based buckets are deterministic
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderkey, o_orderpriority,
          |       percent_rank() OVER w AS pr,
          |       cume_dist() OVER w AS cd,
          |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
          |FROM orders_v WHERE o_custkey % 50 = 0
          |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin)
    },
      Sql("""SELECT o_orderkey, o_orderpriority,
        |       percent_rank() OVER w AS pr,
        |       cume_dist() OVER w AS cd,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders WHERE o_custkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin)),
    Query("e31_group_ols", (s, dir) => {
      // closed-form least squares per group (price-vs-quantity regression
      // per return flag) from EXACT integer moments: quantities and price
      // CENTS sum to BIGINTs in one map-side-combinable pass, the normal
      // equations' cross products go through DECIMAL so the only floats
      // are the final two divisions (and an IEEE-scalar r²) — no
      // iterative solver, no partial-sum float drift. At 10¹² rows the
      // moments need DECIMAL(38,0) accumulators (cents·rows overflows
      // int64 around 1e18); the shape is unchanged.
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql(
        s"""WITH m AS (
           |  SELECT l_returnflag, COUNT(*) AS n,
           |         SUM(CAST(l_quantity AS BIGINT)) AS sx,
           |         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS sy,
           |         SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS DECIMAL(25,0))) AS sxy,
           |         SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS DECIMAL(25,0))) AS sxx,
           |         SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS DECIMAL(25,0))) AS syy
           |  FROM lineitem_v GROUP BY l_returnflag),
           |d AS (
           |  SELECT l_returnflag, n,
           |         CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS num,
           |         CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS den,
           |         CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy AS inum,
           |         CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS vary
           |  FROM m)
           |SELECT l_returnflag, n,
           |       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0 AS slope_6,
           |       round(CAST(inum AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0 AS icept_6,
           |       round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
           |             / (CAST(den AS DOUBLE) * CAST(vary AS DOUBLE)), 6) + 0.0 AS r2_6
           |FROM d ORDER BY l_returnflag""".stripMargin)
    },
      // identical exact-integer moments (DuckDB sums
      // BIGINT into HUGEINT — same exact values the DECIMAL accumulators
      // carry on the Spark side), identical final divisions
      Sql("""WITH m AS (
        |  SELECT l_returnflag, COUNT(*)::BIGINT AS n,
        |         SUM(CAST(l_quantity AS BIGINT)) AS sx,
        |         SUM((CAST(l_extendedprice AS DECIMAL(12,2)) * 100)::BIGINT) AS sy,
        |         SUM(CAST(l_quantity AS BIGINT) * (CAST(l_extendedprice AS DECIMAL(12,2)) * 100)::BIGINT) AS sxy,
        |         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |         SUM((CAST(l_extendedprice AS DECIMAL(12,2)) * 100)::BIGINT * (CAST(l_extendedprice AS DECIMAL(12,2)) * 100)::BIGINT) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n,
        |         n::HUGEINT * sxy - sx::HUGEINT * sy AS num,
        |         n::HUGEINT * sxx - sx::HUGEINT * sx AS den,
        |         sy::HUGEINT * sxx - sx::HUGEINT * sxy AS inum,
        |         n::HUGEINT * syy - sy::HUGEINT * sy AS vary
        |  FROM m)
        |SELECT l_returnflag, n,
        |       round(num::DOUBLE / den::DOUBLE, 6) + 0.0 AS slope_6,
        |       round(inum::DOUBLE / den::DOUBLE, 6) + 0.0 AS icept_6,
        |       round(num::DOUBLE * num::DOUBLE / (den::DOUBLE * vary::DOUBLE), 6) + 0.0 AS r2_6
        |FROM d ORDER BY l_returnflag""".stripMargin)),
    Query("e32_chi2_cells", (s, dir) => {
      // contingency-table independence profile (return flag × line
      // status): per-cell Pearson χ² contribution from exact integer
      // counts — diff = o·T − r·c stays in int64 at this scale, the term
      // is ONE deterministic IEEE division per cell, so there is no
      // cross-cell float summation to drift (the user sums term_6 for
      // the χ² statistic). The profiling op behind "are these two
      // metadata columns independent?" on a corpus card.
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql(
        """WITH o AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n
          |           FROM lineitem_v GROUP BY 1, 2),
          |r AS (SELECT l_returnflag, SUM(n) AS rn FROM o GROUP BY 1),
          |c AS (SELECT l_linestatus, SUM(n) AS cn FROM o GROUP BY 1),
          |t AS (SELECT SUM(n) AS tn FROM o)
          |SELECT o.l_returnflag, o.l_linestatus, o.n,
          |       round(CAST((o.n * t.tn - r.rn * c.cn) AS DOUBLE)
          |             * CAST((o.n * t.tn - r.rn * c.cn) AS DOUBLE)
          |             / CAST(r.rn * c.cn * t.tn AS DOUBLE), 6) + 0.0 AS term_6
          |FROM o JOIN r USING (l_returnflag) JOIN c USING (l_linestatus) CROSS JOIN t
          |ORDER BY o.l_returnflag, o.l_linestatus""".stripMargin)
    },
      Sql("""WITH o AS (SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS n
        |           FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, SUM(n)::BIGINT AS rn FROM o GROUP BY 1),
        |c AS (SELECT l_linestatus, SUM(n)::BIGINT AS cn FROM o GROUP BY 1),
        |t AS (SELECT SUM(n)::BIGINT AS tn FROM o)
        |SELECT o.l_returnflag, o.l_linestatus, o.n,
        |       round((o.n * t.tn - r.rn * c.cn)::DOUBLE
        |             * (o.n * t.tn - r.rn * c.cn)::DOUBLE
        |             / (r.rn * c.cn * t.tn)::DOUBLE, 6) + 0.0 AS term_6
        |FROM o JOIN r USING (l_returnflag) JOIN c USING (l_linestatus) CROSS JOIN t
        |ORDER BY o.l_returnflag, o.l_linestatus""".stripMargin)),
    Query("q26_recursive_cte", (s, dir) => {
      // WITH RECURSIVE through Spark's UnionLoop (new in Spark 4.x) — the
      // SQL-surface route to iterative computation the DataFrame loops
      // (g1/g7) hand-roll. Spark supports UNION ALL recursion only, so the
      // domain is ACYCLIC by construction: walk every customer up the
      // implicit binary tree (parent = key div 2 — the org-chart /
      // category-hierarchy shape), emitting depth and the path-sum of
      // ancestor keys; each step strictly decreases the node, so UNION ALL
      // is exact and the loop terminates without a hop guard
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      s.sql(
        """WITH RECURSIVE up(c_custkey, node, steps, path_sum) AS (
          |  SELECT c_custkey, c_custkey AS node, CAST(0 AS BIGINT) AS steps,
          |         c_custkey AS path_sum
          |  FROM customer_v
          |  UNION ALL
          |  SELECT c_custkey, node DIV 2, steps + 1, path_sum + node DIV 2
          |  FROM up WHERE node > 1)
          |SELECT c_custkey, steps AS depth, path_sum
          |FROM up WHERE node = 1 ORDER BY c_custkey""".stripMargin)
    },
      Sql("""WITH RECURSIVE up(c_custkey, node, steps, path_sum) AS (
        |  SELECT c_custkey, c_custkey AS node, CAST(0 AS BIGINT) AS steps,
        |         c_custkey AS path_sum
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, node // 2, steps + 1, path_sum + node // 2
        |  FROM up WHERE node > 1)
        |SELECT c_custkey, steps AS depth, path_sum
        |FROM up WHERE node = 1 ORDER BY c_custkey""".stripMargin)),
    Query("q33_sql_bfs", (s, dir) => {
      // the SQL table-valued-function surface for graph ops: a
      // catalog-stored graph queried entirely THROUGH
      // spark.sql — `SELECT * FROM graph_bfs(root, g, start, depth)`,
      // registered via the same SparkSessionExtensions hook as the scalar
      // expressions; the Pregel fixpoint runs at analysis (documented in
      // GraphTvfs), the returned plan composes like any relation (the
      // outer query filters + re-orders it). Oracle = g16's recursive-CTE
      // walk over the unfiltered derivation.
      val root = sqlTvfGraph(s, dir)
      s.sql(
        s"""SELECT vertex, level FROM graph_bfs('$root', 'sqlg', 0, 12)
           |WHERE level >= 0 ORDER BY level, vertex""".stripMargin)
    },
      // the TVF runs the same BFS the Scala API runs; oracle
      // = the recursive-CTE walk over the same (unfiltered) derivation
      Sql(s"""WITH RECURSIVE e AS (SELECT src, dst FROM (${DerivedGraphs.smallSql}) t),
         |walk(vertex, level) AS (
         |  SELECT CAST(0 AS BIGINT) AS vertex, 0 AS level
         |  UNION
         |  SELECT e.dst, walk.level + 1 FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < 12)
         |SELECT vertex, CAST(MIN(level) AS INT) AS level FROM walk GROUP BY vertex ORDER BY level, vertex""".stripMargin)),
    Query("q39_sql_cc", (s, dir) => {
      // SQL TVF surface widened to connected components: same catalog-stored
      // graph, same analysis-time-execution contract as q33; oracle =
      // g3's recursive reachability-closure mirror.
      val root = sqlTvfGraph(s, dir)
      s.sql(s"SELECT vertex, component FROM graph_cc('$root', 'sqlg') ORDER BY vertex")
    },
      // the TVF runs the same GraphX CC; oracle = g3's
      // recursive reachability-closure mirror over the same derivation
      Sql(s"""WITH RECURSIVE e AS (${DerivedGraphs.smallSql}),
         |ue AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
         |v AS (SELECT a AS vertex FROM ue UNION SELECT b AS vertex FROM ue),
         |r(vertex, reach) AS (
         |  SELECT vertex, vertex FROM v
         |  UNION
         |  SELECT r.vertex, ue.b FROM r JOIN ue ON ue.a = r.reach)
         |SELECT vertex, MIN(reach) AS component FROM r GROUP BY vertex ORDER BY vertex""".stripMargin)),
    Query("q40_sql_path", (s, dir) => {
      // SQL TVF for shortest-path RECONSTRUCTION: the canonical
      // min-predecessor hop sequence (g38's contract) selected and
      // re-ordered through spark.sql; oracle = g38's recursive-CTE mirror.
      val root = sqlTvfGraph(s, dir)
      s.sql(
        s"""SELECT pos, vertex FROM graph_shortest_path('$root', 'sqlg', 0, 12)
           |ORDER BY pos""".stripMargin)
    },
      // same canonical walk as g38's mirror
      Sql(Traversals.shortestPathToSql(DerivedGraphs.smallSql, start = 0L, maxDepth = 12))),
    Query("q41_sql_motif", (s, dir) => {
      // SQL TVF for motif search: g31's directed-triangle pattern run
      // entirely through spark.sql, with the rotation-canonicalization
      // predicate applied as an OUTER SQL filter that Catalyst pushes
      // into the TVF's join chain; oracle = the same mirrored chain.
      val root = sqlTvfGraph(s, dir)
      s.sql(
        s"""SELECT a, b, c FROM graph_motif('$root', 'sqlg', '(a)-(b); (b)-(c); (c)-(a)')
           |WHERE a < b AND a < c ORDER BY a, b, c""".stripMargin)
    },
      // same mirrored join chain as g31, canonicalized
      Sql(Motifs.findSql(DerivedGraphs.smallSql, "(a)-(b); (b)-(c); (c)-(a)",
        extraWhere = "a < b AND a < c", orderBy = "a, b, c"))),
    Query("q27_bloom_join", (s, dir) => {
      // runtime bloom-filter join pruning: build a bloom filter over the
      // selective dim side's join keys (spark-sketch BloomFilter — the
      // same mergeable structure Spark's own InjectRuntimeFilter plants,
      // built here explicitly; ~1.2 MB for 1M keys at 1% fpp), broadcast
      // it, and prune the fact side BEFORE its shuffle — only ~fpp of
      // non-matching rows survive to the exchange, which at 100 TB is the
      // difference between shuffling the full fact table and shuffling
      // the matching slice. The equi-join then re-checks exactly, so the
      // result is identical to the unpruned join — which is precisely
      // what the plain-join oracle checks (false positives caught).
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val bf = urgent.stat.bloomFilter("o_orderkey", 1000000L, 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val mightContain = udf((k: Long) => bfB.value.mightContain(k))
      Tables.lineitem(s, dir)
        .filter(mightContain(col("l_orderkey")))
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(dec12("l_quantity")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    },
      // bloom pruning is semantics-preserving: the plain
      // join IS the oracle, so a false-negative-producing filter would fail
      Sql("""SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("q32_asof_version", (s, dir) => {
      // point-in-time read over a versioned history (SCD-2 / table-format
      // AS OF): keys ≡0 mod 3 carry a v2 price bump; the same history read
      // AS OF 1 and AS OF 2 must show the un-bumped and bumped states
      // respectively — both rollups gated in one tagged result
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderpriority"), dec12("o_totalprice").as("price"))
      val hist = o.withColumn("version", lit(1L))
        .unionByName(o.filter(col("o_orderkey") % 3 === 0)
          .withColumn("price", (col("price") + 10).cast("decimal(12,2)"))
          .withColumn("version", lit(2L)))
      def rollup(v: Long) =
        SnapshotDiff.asOfVersion(hist, keys = Seq("o_orderkey"),
            versionCol = "version", v = v)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("price").cast("double").as("sum_price"))
          .withColumn("asof", lit(v))
      rollup(1L).unionByName(rollup(2L))
        .select("asof", "o_orderpriority", "n", "sum_price")
        .orderBy("asof", "o_orderpriority")
    },
      // ranked history read at both versions
      Sql("""WITH o AS (SELECT o_orderkey, o_orderpriority,
        |                  CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |hist AS (
        |  SELECT o_orderkey, o_orderpriority, price, 1 AS version FROM o
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(price + 10 AS DECIMAL(12,2)), 2 FROM o WHERE o_orderkey % 3 = 0),
        |ranked AS (
        |  SELECT a.av, h.o_orderpriority, h.price,
        |         row_number() OVER (PARTITION BY a.av, h.o_orderkey
        |                            ORDER BY h.version DESC) AS rn
        |  FROM (VALUES (1), (2)) a(av) JOIN hist h ON h.version <= a.av)
        |SELECT CAST(av AS BIGINT) AS "asof", o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM ranked WHERE rn = 1
        |GROUP BY av, o_orderpriority ORDER BY av, o_orderpriority""".stripMargin)),
    Query("q29_cow_merge", (s, dir) => {
      // copy-on-write MERGE gate: write a fresh
      // hive-partitioned target (f5's layout), apply a deterministic
      // change-set — updates (+100.00 on keys ≡0 mod 97), deletes (≡0 mod
      // 131), inserts (key+1e9 into the brand-new partition 2099 for keys
      // ≡0 mod 203) — through mergeCow, which rewrites ONLY the touched
      // partition directories (byte-stability of the rest is
      // MergeCowSpec's half), then re-read the table and roll it up per
      // partition; the mirror computes the same merged state in SQL
      val out = exportPath("cow", dir)
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"),
        dec12("o_totalprice").as("price"),
        col("o_orderpriority"),
        year(col("o_orderdate")).as("o_year"))
      Partitioning.writeHivePartitioned(base, out, "o_year")
      val upd = base
        .filter(col("o_orderkey") % 97 === 0 && col("o_orderkey") % 131 =!= 0)
        .withColumn("price", (col("price") + lit(100)).cast("decimal(12,2)"))
        .withColumn("is_delete", lit(false))
      val del = base.filter(col("o_orderkey") % 131 === 0)
        .withColumn("is_delete", lit(true))
      val ins = base.filter(col("o_orderkey") % 203 === 0)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          lit("1.00").cast("decimal(12,2)").as("price"),
          lit("1-URGENT").as("o_orderpriority"),
          lit(2099).as("o_year"),
          lit(false).as("is_delete"))
      MergeInto.mergeCow(s, out, upd.unionByName(del).unionByName(ins),
        keys = Seq("o_orderkey"), partCol = "o_year",
        deleteCol = Some("is_delete"))
      s.read.parquet(out)
        .groupBy(col("o_year").cast("long").as("o_year"))
        .agg(count(lit(1)).as("n"), sum("price").cast("double").as("sum_price"))
        .orderBy("o_year")
    },
      Sql("""WITH base AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
        |                     o_orderpriority, EXTRACT(year FROM o_orderdate) AS o_year
        |              FROM orders),
        |upd AS (SELECT o_orderkey, CAST(price + 100 AS DECIMAL(12,2)) AS price,
        |               o_orderpriority, o_year
        |        FROM base WHERE o_orderkey % 97 = 0 AND o_orderkey % 131 <> 0),
        |ins AS (SELECT o_orderkey + 1000000000 AS o_orderkey,
        |               CAST(1.00 AS DECIMAL(12,2)) AS price,
        |               '1-URGENT' AS o_orderpriority, 2099 AS o_year
        |        FROM base WHERE o_orderkey % 203 = 0),
        |merged AS (
        |  SELECT * FROM base WHERE o_orderkey % 131 <> 0 AND o_orderkey % 97 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT CAST(o_year AS BIGINT) AS o_year, COUNT(*) AS n,
        |       CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin)),
    Query("q28_snapshot_diff", (s, dir) => {
      // CDC between two derived snapshot versions of orders (old drops
      // keys ≡0 mod 5; new drops ≡0 mod 7 and bumps price on ≡0 mod 3),
      // so all four change classes occur. The diff itself is ONE
      // full-outer key join (SnapshotDiff — merge's inverse: q20 APPLIES
      // a change-set, q28 RECOVERS one); the gate rolls it up per class.
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), dec12("o_totalprice").as("price"))
      val vOld = o.filter(col("o_orderkey") % 5 =!= 0)
      val vNew = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0, col("price") + 1).otherwise(col("price")))
      SnapshotDiff.diff(vOld, vNew, Seq("o_orderkey"))
        .groupBy("change")
        .agg(count(lit(1)).as("n_keys"), sum("o_orderkey").as("sum_keys"))
        .orderBy("change")
    },
      Sql("""WITH o AS (SELECT o_orderkey, o_custkey,
        |                  CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |v_old AS (SELECT * FROM o WHERE o_orderkey % 5 <> 0),
        |v_new AS (SELECT o_orderkey, o_custkey,
        |                 CASE WHEN o_orderkey % 3 = 0 THEN price + 1 ELSE price END AS price
        |          FROM o WHERE o_orderkey % 7 <> 0),
        |d AS (SELECT COALESCE(n.o_orderkey, v.o_orderkey) AS k,
        |             CASE WHEN v.o_orderkey IS NULL THEN 'insert'
        |                  WHEN n.o_orderkey IS NULL THEN 'delete'
        |                  WHEN v.o_custkey IS NOT DISTINCT FROM n.o_custkey
        |                   AND v.price IS NOT DISTINCT FROM n.price THEN 'unchanged'
        |                  ELSE 'update' END AS change
        |      FROM v_old v FULL OUTER JOIN v_new n ON v.o_orderkey = n.o_orderkey)
        |SELECT change, COUNT(*) AS n_keys, SUM(k)::BIGINT AS sum_keys
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("p4_incremental_refresh", (s, dir) => {
      // CDC-driven incremental refresh composed end-to-end (the
      // maintenance loop a 100 TB corpus actually runs): old snapshot
      // hive-partitioned on disk → SnapshotDiff.changeSet recovers the
      // minimal applyable delta → mergeCow applies it rewriting ONLY the
      // touched partitions → the refreshed table must EQUAL the new
      // snapshot, so the oracle aggregates vNew directly (round-trip
      // identity, not a mirrored pipeline)
      val out = exportPath("incr", dir)
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        dec12("o_totalprice").as("price"),
        year(col("o_orderdate")).as("o_year"))
      val vOld = o.filter(col("o_orderkey") % 5 =!= 0)
      val vNew = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0, col("price") + 1).otherwise(col("price"))
            .cast("decimal(12,2)"))
      Partitioning.writeHivePartitioned(vOld, out, "o_year")
      val delta = SnapshotDiff.changeSet(vOld, vNew, keys = Seq("o_orderkey"))
      MergeInto.mergeCow(s, out, delta, keys = Seq("o_orderkey"),
        partCol = "o_year", deleteCol = Some("is_delete"))
      s.read.parquet(out)
        .groupBy(col("o_year").cast("long").as("o_year"))
        .agg(count(lit(1)).as("n"), sum("price").cast("double").as("sum_price"))
        .orderBy("o_year")
    },
      // round-trip identity: refreshed table ==
      // the new snapshot, so the oracle IS vNew's rollup
      Sql("""WITH v_new AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 3 = 0
        |              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 1 AS DECIMAL(12,2))
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price,
        |         EXTRACT(year FROM o_orderdate) AS o_year
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT CAST(o_year AS BIGINT) AS o_year, COUNT(*) AS n,
        |       CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM v_new GROUP BY o_year ORDER BY o_year""".stripMargin)),
    Query("p3_validation_report", (s, dir) => {
      // Deequ-style admission gate: four row rules fused into ONE scan
      // (conditional sums), a key-uniqueness aggregation, and a broadcast
      // anti-join FK probe — the data-quality report a 100 TB ingest runs
      // before data joins the corpus. Mixes passing and failing rules so
      // the gate pins both outcomes (r3's cutoff intentionally bites).
      val li = Tables.lineitem(s, dir)
      Validation.report(Seq(
        Validation.rowChecks(li, Seq(
          Validation.RowRule("r1_qty_domain",
            col("l_quantity") >= 1 && col("l_quantity") <= 50),
          Validation.RowRule("r2_price_positive", col("l_extendedprice") > 0),
          Validation.RowRule("r3_ship_after_1995",
            col("l_shipdate") >= lit("1995-01-01").cast("timestamp")),
          Validation.RowRule("r4_flag_domain",
            col("l_returnflag").isin("A", "N", "R")))),
        Validation.unique(li, Seq("l_orderkey", "l_linenumber"), "r5_line_unique"),
        Validation.refIntegrity(li, "l_orderkey",
          Tables.orders(s, dir), "o_orderkey", "r6_orders_fk")))
    },
      Sql("""WITH rowagg AS (SELECT
        |  SUM(CASE WHEN NOT COALESCE(l_quantity >= 1 AND l_quantity <= 50, FALSE) THEN 1 ELSE 0 END) AS r1,
        |  SUM(CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END) AS r2,
        |  SUM(CASE WHEN NOT COALESCE(l_shipdate >= TIMESTAMP '1995-01-01', FALSE) THEN 1 ELSE 0 END) AS r3,
        |  SUM(CASE WHEN NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END) AS r4
        |  FROM lineitem),
        |uniq AS (SELECT COALESCE(SUM(c - 1), 0) AS v FROM
        |  (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber) t),
        |ref AS (SELECT COUNT(*) AS v FROM lineitem l
        |        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |u AS (
        |  SELECT 'r1_qty_domain' AS "check", r1::BIGINT AS n_violations FROM rowagg
        |  UNION ALL SELECT 'r2_price_positive', r2::BIGINT FROM rowagg
        |  UNION ALL SELECT 'r3_ship_after_1995', r3::BIGINT FROM rowagg
        |  UNION ALL SELECT 'r4_flag_domain', r4::BIGINT FROM rowagg
        |  UNION ALL SELECT 'r5_line_unique', v::BIGINT FROM uniq
        |  UNION ALL SELECT 'r6_orders_fk', v::BIGINT FROM ref)
        |SELECT "check", n_violations, n_violations = 0 AS pass
        |FROM u ORDER BY "check"""".stripMargin)),
    Query("p5_corpus_report", (s, dir) => {
      // dataset-card summary (the stats block every corpus release
      // ships): one token-counting scan feeds a global aggregate and an
      // exact-dup hash rollup, stacked into long-format (metric, value)
      // rows — all INTEGER metrics (mean via div), so the card is
      // bit-stable across engines. Scale: the md5 rollup is d1's one
      // hash shuffle; everything else is a single-row aggregate.
      val stats = Tables.documents(s, dir).select(
        col("lang"), col("source"), md5(col("text")).as("h"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      val base = stats.agg(
        count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        countDistinct("lang").as("n_langs"), countDistinct("source").as("n_sources"),
        max("n_toks").as("max_toks"))
      val dups = stats.groupBy("h").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
        .agg(coalesce(sum("c"), lit(0L)).as("dup_docs"))
      base.crossJoin(dups).selectExpr(
        """stack(7,
          |  'n_docs', n_docs,
          |  'n_tokens', n_tokens,
          |  'n_langs', n_langs,
          |  'n_sources', n_sources,
          |  'max_doc_tokens', max_toks,
          |  'mean_doc_tokens', n_tokens div n_docs,
          |  'exact_dup_docs', dup_docs) AS (metric, value)""".stripMargin)
        .orderBy("metric")
    },
      // same tokenization + md5 rollup, stacked long
      Sql("""WITH t AS (SELECT lang, source, md5(text) AS h,
        |                  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                                  x -> x <> ''))::BIGINT AS n_toks
        |           FROM documents),
        |b AS (SELECT COUNT(*) AS n_docs, SUM(n_toks) AS n_tokens,
        |             COUNT(DISTINCT lang) AS n_langs, COUNT(DISTINCT source) AS n_sources,
        |             MAX(n_toks) AS max_toks FROM t),
        |d AS (SELECT COALESCE(SUM(c), 0) AS dup_docs
        |      FROM (SELECT COUNT(*) AS c FROM t GROUP BY h HAVING COUNT(*) > 1)),
        |u AS (SELECT 'n_docs' AS metric, n_docs::BIGINT AS value FROM b
        |      UNION ALL SELECT 'n_tokens', n_tokens::BIGINT FROM b
        |      UNION ALL SELECT 'n_langs', n_langs::BIGINT FROM b
        |      UNION ALL SELECT 'n_sources', n_sources::BIGINT FROM b
        |      UNION ALL SELECT 'max_doc_tokens', max_toks::BIGINT FROM b
        |      UNION ALL SELECT 'mean_doc_tokens', (n_tokens // n_docs)::BIGINT FROM b
        |      UNION ALL SELECT 'exact_dup_docs', dup_docs::BIGINT FROM d)
        |SELECT metric, value FROM u ORDER BY metric""".stripMargin)),
    Query("q24_null_aware_anti", (s, dir) => {
      // NOT IN over a NULL-bearing subquery — the null-aware anti join
      // (Spark's NullAwareAntiJoin, a different operator from q5's plain
      // left_anti): one NULL in the set makes NOT IN vacuously empty,
      // while the null-filtered variant behaves like the anti join. The
      // query contrasts both semantics so the gate pins the trap itself.
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """WITH keys AS (SELECT nullif(o_custkey % 1000, 7) AS k FROM orders_v),
          |with_null AS (
          |  SELECT COUNT(*) AS n FROM customer_v
          |  WHERE c_custkey % 1000 NOT IN (SELECT k FROM keys)),
          |no_null AS (
          |  SELECT COUNT(*) AS n FROM customer_v
          |  WHERE c_custkey % 1000 NOT IN (SELECT k FROM keys WHERE k IS NOT NULL))
          |SELECT 'with_null' AS variant, n FROM with_null
          |UNION ALL SELECT 'no_null', n FROM no_null
          |ORDER BY variant""".stripMargin)
    },
      Sql("""WITH keys AS (SELECT nullif(o_custkey % 1000, 7) AS k FROM orders),
        |with_null AS (
        |  SELECT COUNT(*) AS n FROM customer
        |  WHERE c_custkey % 1000 NOT IN (SELECT k FROM keys)),
        |no_null AS (
        |  SELECT COUNT(*) AS n FROM customer
        |  WHERE c_custkey % 1000 NOT IN (SELECT k FROM keys WHERE k IS NOT NULL))
        |SELECT 'with_null' AS variant, n FROM with_null
        |UNION ALL SELECT 'no_null', n FROM no_null
        |ORDER BY variant""".stripMargin)),
    Query("q23_lateral_topn", (s, dir) => {
      // LATERAL correlated subquery with its own ORDER BY/LIMIT — per-region
      // top-2 nations by customer count, the "top-N per outer row" shape
      // q19's scalar subquery can't express; Catalyst decorrelates the
      // lateral into a ranked join (no per-row re-execution)
      Tables.region(s, dir).createOrReplaceTempView("region_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT r.r_name, t.n_name, t.n_cust
          |FROM region_v r, LATERAL (
          |  SELECT n.n_name, COUNT(*) AS n_cust
          |  FROM nation_v n JOIN customer_v c ON c.c_nationkey = n.n_nationkey
          |  WHERE n.n_regionkey = r.r_regionkey
          |  GROUP BY n.n_name
          |  ORDER BY n_cust DESC, n_name LIMIT 2) t
          |ORDER BY r.r_name, t.n_cust DESC, t.n_name""".stripMargin)
    },
      Sql("""SELECT r.r_name, t.n_name, t.n_cust
        |FROM region r, LATERAL (
        |  SELECT n.n_name, COUNT(*)::BIGINT AS n_cust
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY n_cust DESC, n_name LIMIT 2) t
        |ORDER BY r.r_name, t.n_cust DESC, t.n_name""".stripMargin)),
    Query("q20_merge_upsert", (s, dir) => {
      // MERGE INTO (SCD-1 upsert) through the MergeInto operator: a
      // deterministic change-set derived from orders itself — updates
      // (k%10=0 gets +1000), inserts (k%7=3 re-keyed past the key space),
      // deletes (k%13=5, minus the update overlap so the source stays
      // key-unique) — applied in ONE full-outer shuffle join; the oracle
      // mirrors the same merge relationally. At 100 TB the change-set side
      // broadcasts and the target never shuffles (see MergeInto doc).
      val target = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        dec12("o_totalprice").as("price"), col("o_orderpriority").as("prio"))
      val updates = target.filter(col("k") % 10 === 0)
        .withColumn("price", (col("price") + lit(1000)).cast("decimal(12,2)"))
        .withColumn("del", lit(false))
      val inserts = target.filter(col("k") % 7 === 3)
        .select((col("k") + 10000000L).as("k"), col("price"), col("prio"), lit(false).as("del"))
      val deletes = target.filter(col("k") % 13 === 5 && col("k") % 10 =!= 0)
        .withColumn("del", lit(true))
      operators.MergeInto.merge(target,
          updates.unionByName(inserts).unionByName(deletes), Seq("k"), deleteCol = Some("del"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum("price").cast("double").as("sum_price"))
        .orderBy("prio")
    },
      // relational mirror of MergeInto.merge over the
      // same derived change-set: source-wins CASE on match, delete-flag
      // filter, full-outer join
      Sql("""WITH tgt AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
        |                    o_orderpriority AS prio FROM orders),
        |src AS (
        |  SELECT k, CAST(price + 1000 AS DECIMAL(12,2)) AS price, prio, FALSE AS del
        |  FROM tgt WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k + 10000000, price, prio, FALSE FROM tgt WHERE k % 7 = 3
        |  UNION ALL
        |  SELECT k, price, prio, TRUE FROM tgt WHERE k % 13 = 5 AND k % 10 <> 0),
        |merged AS (
        |  SELECT COALESCE(s.k, t.k) AS k,
        |         CASE WHEN s.k IS NOT NULL THEN s.price ELSE t.price END AS price,
        |         CASE WHEN s.k IS NOT NULL THEN s.prio ELSE t.prio END AS prio
        |  FROM tgt t FULL OUTER JOIN src s ON s.k = t.k
        |  WHERE NOT (s.k IS NOT NULL AND COALESCE(s.del, FALSE)))
        |SELECT prio, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY prio ORDER BY prio""".stripMargin)),
    Query("q21_incremental_rollup", (s, dir) => {
      // incremental-maintenance surface: per-(month, flag) PARTIAL
      // aggregates merged into the final per-flag rollup — the
      // materialized-view pattern where each day's 100 TB increment is
      // aggregated once and the rollup is maintained by merging partial
      // states (count/sum re-add, min/max re-compare), never by rescanning
      // history. The oracle computes the same rollup directly from the
      // base table, proving partial-merge ≡ direct aggregation.
      val partials = Tables.lineitem(s, dir)
        .groupBy(date_trunc("month", col("l_shipdate")).as("month"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(dec12("l_quantity")).as("sq"),
          min("l_quantity").as("mn"), max("l_quantity").as("mx"))
      partials.groupBy("l_returnflag")
        .agg(sum("n").as("n"), sum("sq").cast("double").as("sum_qty"),
          min("mn").as("min_qty"), max("mx").as("max_qty"))
        .orderBy("l_returnflag")
    },
      // direct aggregation — the check that the
      // partial-merge plan is equivalent to rescanning the base table
      Sql("""SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("q42_sql_log", (s, dir) => {
      // the storage layer's SQL surface (the q33/q39 TVF move applied to
      // the commit log): head read, VERSION AS OF, and a log-stats-
      // pruned range scan — all through spark.sql, over a table built
      // with the Scala API. Outer aggregates compose over the TVF plans.
      val root = IndexCache.freshRoot("sqllog")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "n_nationkey")
      val nat = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      t.overwrite(nat.filter(col("n_nationkey") < 10).repartition(2))
      t.append(nat.filter(col("n_nationkey") >= 10).repartition(2))
      s.sql(
        s"""SELECT 'head' AS snap, COUNT(*) AS n, SUM(n_nationkey) AS sum_key
           |FROM log_table('$tp', 'n_nationkey')
           |UNION ALL
           |SELECT 'ranged', COUNT(*), SUM(n_nationkey)
           |FROM log_table_range('$tp', 'n_nationkey', 5, 14)
           |UNION ALL
           |SELECT 'v0', COUNT(*), SUM(n_nationkey)
           |FROM log_table_at('$tp', 'n_nationkey', 0)
           |ORDER BY snap""".stripMargin)
    },
      // each snapshot derived straight from the source
      Sql("""SELECT 'head' AS snap, COUNT(*) AS n, SUM(n_nationkey)::BIGINT AS sum_key FROM nation
        |UNION ALL
        |SELECT 'ranged', COUNT(*), SUM(n_nationkey)::BIGINT FROM nation WHERE n_nationkey BETWEEN 5 AND 14
        |UNION ALL
        |SELECT 'v0', COUNT(*), SUM(n_nationkey)::BIGINT FROM nation WHERE n_nationkey < 10
        |ORDER BY snap""".stripMargin)),
    Query("q43_sql_write", (s, dir) => {
      // the SQL WRITE surface (q42 made commit-log tables SQL-readable;
      // this makes them SQL-writable):
      // after the Scala-API setup commit, every WRITE here is a pure SQL
      // statement — log_merge upserts a registered source view (the
      // MERGE INTO shape), log_delete removes a key range file-granularly
      // — and the final read goes back through log_table. The statements
      // commit at analysis (the graph-TVF execution contract, documented
      // on LogTvfs); SQL-vs-Scala-API equality is spec-asserted in
      // CommitLogSpec.
      val root = IndexCache.freshRoot("sqlwrite")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir)
      t.overwrite(ord.select(col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v")).repartitionByRange(8, col("k")))
      ord.filter(col("o_orderkey") % 10 === 0)
        .select((col("o_orderkey") + 1).cast("long").as("k"),
          (col("o_custkey") + 7).cast("long").as("v"))
        .createOrReplaceTempView("q43_src")
      s.sql(s"SELECT COUNT(*) FROM log_merge('$tp', 'k', 'q43_src', 'k')").collect()
      s.sql(s"SELECT COUNT(*) FROM log_delete('$tp', 'k', 1000, 5000)").collect()
      s.sql(
        s"""SELECT COUNT(*) AS n_rows, SUM(k) AS sum_k, SUM(v) AS sum_v
           |FROM log_table('$tp', 'k')""".stripMargin)
    },
      // the merge+delete change set restated relationally:
      // upserts replace matching base keys, then the key range drops out
      Sql("""WITH base AS (SELECT o_orderkey AS k, o_custkey AS v FROM orders),
        |src AS (SELECT o_orderkey + 1 AS k, o_custkey + 7 AS v FROM orders WHERE o_orderkey % 10 = 0),
        |merged AS (SELECT k, v FROM base WHERE k NOT IN (SELECT k FROM src)
        |           UNION ALL SELECT k, v FROM src),
        |final AS (SELECT k, v FROM merged WHERE k < 1000 OR k > 5000)
        |SELECT COUNT(*) AS n_rows, SUM(k)::BIGINT AS sum_k, SUM(v)::BIGINT AS sum_v
        |FROM final""".stripMargin)),
    Query("q44_sql_ann", (s, dir) => {
      // SQL-only VECTOR SEARCH (the pgvector shape — q42/q43 made the
      // storage layer SQL-complete; the persisted indexes built on it
      // were still Scala-only at query time): the IVF index builds via
      // the Scala API at s12's configuration, then the probe runs as a
      // pure SQL statement through the ann_topk TVF — the returned plan
      // IS ivfTopKIndexed's (file-pruned probed lists, zero training
      // jobs), so it shares s3's full mirror bit-for-bit. Same memoized
      // build artifact as s12; the TVF probe is read-only.
      val idx = IndexCache.template(s"ivf|$dir|full")(
        Similarity.buildIvfIndex(Tables.embeddings(s, dir), _))
      s.sql(s"SELECT * FROM ann_topk('$idx', 20, 5, 4)")
    },
      // the ann_topk TVF returns ivfTopKIndexed's plan,
      // which reproduces ivfTopK bit-for-bit — s3's full mirror
      Sql(Similarity.ivfTopKSql())),
    Query("q45_sql_graph_ann", (s, dir) => {
      // SQL-only GRAPH-ROUTED vector search: s25's committed k-NN-graph
      // index queried through the graph_ann TVF — the routed walk (hops
      // rounds of file-pruned point reads) runs at analysis and the
      // statement returns its frame, sharing s25's end-to-end mirror.
      // Same memoized build artifact as s25; the TVF probe is read-only.
      val idx = IndexCache.template(s"knng|$dir|full")(
        KnnGraph.buildKnnGraphIndex(Tables.embeddings(s, dir), _))
      s.sql(s"SELECT * FROM graph_ann('$idx', 20, 5, 8, 3)")
    },
      // the graph_ann TVF returns knnGraphSearch's
      // plan over the committed index — s25's end-to-end mirror
      Sql(KnnGraph.knnGraphSearchSql())),
    Query("q46_sql_update", (s, dir) => {
      // file-granular UPDATE, the third DML statement (q43 gave SQL users
      // MERGE + DELETE): the orders-derived table lands range-clustered,
      // log_update rewrites ONLY files whose key stats intersect
      // [1000, 5000] — matching rows get v = v * 2 + 1, everything else
      // (including whole non-intersecting files, carried by reference)
      // survives byte-identically. File granularity and the NULL-key
      // rewrite-unchanged rule are spec-asserted in CommitLogSpec; this
      // gate binds the content contract end-to-end through pure SQL.
      val root = IndexCache.freshRoot("sqlupd")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      t.overwrite(Tables.orders(s, dir)
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("v"))
        .repartitionByRange(8, col("k")))
      s.sql(s"SELECT COUNT(*) FROM log_update('$tp', 'k', 1000, 5000, 'v', 'v * 2 + 1')").collect()
      s.sql(
        s"""SELECT COUNT(*) AS n_rows, SUM(k) AS sum_k, SUM(v) AS sum_v
           |FROM log_table('$tp', 'k')""".stripMargin)
    },
      // the update restated relationally: matching keys
      // double v and add one, everything else unchanged
      Sql("""WITH upd AS (SELECT o_orderkey AS k,
        |       CASE WHEN o_orderkey BETWEEN 1000 AND 5000
        |            THEN o_custkey * 2 + 1 ELSE o_custkey END AS v
        |       FROM orders)
        |SELECT COUNT(*) AS n_rows, SUM(k)::BIGINT AS sum_k, SUM(v)::BIGINT AS sum_v
        |FROM upd""".stripMargin)),
    Query("q50_sql_vacuum", (s, dir) => {
      // the retention statement from pure SQL (q47 gave OPTIMIZE; VACUUM
      // is its pair): v0 becomes unreferenced by the overwrite, log_vacuum
      // reclaims its directory while the HEAD content is untouched —
      // vacuum trims time travel, never data (directory reclaim +
      // in-flight/retention guards are spec-asserted in CommitLogSpec).
      val root = IndexCache.freshRoot("sqlvac")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.filter(col("k") % 2 === 0))
      t.overwrite(ord.filter(col("k") % 2 === 1).repartitionByRange(4, col("k")))
      s.sql(
        s"""SELECT COUNT(*) AS n_rows, SUM(k) AS sum_k, SUM(v) AS sum_v
           |FROM log_vacuum('$tp', 'k', 1)""".stripMargin)
    },
      // vacuum reclaims history, never head content:
      // the surviving snapshot is the second overwrite's rows
      Sql("""SELECT COUNT(*) AS n_rows, SUM(o_orderkey)::BIGINT AS sum_k,
        |       SUM(o_custkey)::BIGINT AS sum_v
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)),
    Query("q48_sql_history", (s, dir) => {
      // DESCRIBE HISTORY from pure SQL: a SQL-only user could read AT a
      // version (q42) and write new ones (q43/q46) but could not DISCOVER
      // the versions — log_history lists them with op + rowcount, read
      // distributed off the log files in ONE scan (never per-version
      // jobs). ts is wall-clock, so the gate projects the deterministic
      // columns; ts monotonicity is spec-asserted in CommitLogSpec.
      val root = IndexCache.freshRoot("sqlhist")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.repartitionByRange(4, col("k")))
      t.deleteRange(1000L, 5000L)
      t.append(ord.filter(col("k") > 7000L).repartitionByRange(2, col("k")))
      s.sql(
        s"""SELECT version, op, n_rows FROM log_history('$tp', 'k')
           |ORDER BY version""".stripMargin)
    },
      // version list restated: overwrite carries every
      // source row, the delete drops the key range, the append adds the
      // high-key slice on top of the post-delete head
      Sql("""WITH n0 AS (SELECT COUNT(*)::BIGINT AS c FROM orders),
        |n1 AS (SELECT COUNT(*)::BIGINT AS c FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000),
        |n2 AS (SELECT COUNT(*)::BIGINT AS c FROM orders WHERE o_orderkey > 7000)
        |SELECT 0::BIGINT AS version, 'overwrite' AS op, (SELECT c FROM n0) AS n_rows
        |UNION ALL SELECT 1, 'delete', (SELECT c FROM n1)
        |UNION ALL SELECT 2, 'append', (SELECT c FROM n1) + (SELECT c FROM n2)
        |ORDER BY version""".stripMargin)),
    Query("q49_sql_filtered_ann", (s, dir) => {
      // FILTERED vector search from pure SQL (s23 was Scala-only): the
      // IDSelector predicate lands inside the probed lists BEFORE ranking
      // through the ann_topk_filtered TVF, so k survives the filter where
      // WHERE over ann_topk(...) would post-cut; shares s23's mirror.
      // Same memoized build artifact as s12; the TVF probe is read-only.
      val idx = IndexCache.template(s"ivf|$dir|full")(
        Similarity.buildIvfIndex(Tables.embeddings(s, dir), _))
      s.sql(s"SELECT * FROM ann_topk_filtered('$idx', 20, 5, 4, 'vec_id % 7 = 3')")
    },
      // the TVF returns ivfTopKIndexed's filtered
      // plan — s23's mirror verbatim
      Sql(Similarity.ivfTopKSql(candFilter = "vec_id % 7 = 3"))),
    Query("q55_sql_metadata", (s, dir) => {
      // SQL parity for the metadata planes (the q43 discipline:
      // every Scala table op gets a statement form): one register, then
      // ADD CONSTRAINT, a deletion-vector DELETE, RENAME COLUMN, and
      // DESCRIBE DETAIL all run as pure SQL — no Scala API in any
      // statement after setup. The head reads through the vector under
      // the renamed surface; v0 keeps the original names and full
      // content; the detail row counts the (unrewritten) files.
      val root = IndexCache.freshRoot("sqlmeta")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.repartitionByRange(4, col("k")))              // v0
      s.sql(s"SELECT * FROM log_register('q55_sales', '$tp', 'k')").collect()
      s.sql("""SELECT COUNT(*) FROM log_set_invariants('q55_sales',
              |'k BIGINT, v BIGINT', 'k', 'k_nonneg', 'k >= 0')""".stripMargin).collect()
      s.sql("SELECT COUNT(*) FROM log_delete_dv('q55_sales', 1000, 5000)").collect()
      s.sql("SELECT COUNT(*) FROM log_rename_column('q55_sales', 'v', 'amount')").collect()
      s.sql(
        """SELECT 'detail' AS snap, COUNT(*) AS n, CAST(0 AS BIGINT) AS sum_k,
          |       CAST(0 AS BIGINT) AS sum_v
          |FROM log_detail('q55_sales')
          |UNION ALL
          |SELECT 'head', COUNT(*), SUM(k), SUM(amount)
          |FROM log_table('q55_sales')
          |UNION ALL
          |SELECT 'v0', COUNT(*), SUM(k), SUM(v)
          |FROM log_table_at('q55_sales', 0)
          |ORDER BY snap""".stripMargin)
    },
      // the statement chain restated: the head is the
      // DV-deleted content under the renamed column, v0 is everything
      // under original names, detail counts the 4 original (unrewritten)
      // files — a DV delete and a rename add none
      Sql("""SELECT 'detail' AS snap, 4::BIGINT AS n, 0::BIGINT AS sum_k, 0::BIGINT AS sum_v
        |UNION ALL
        |SELECT 'head', COUNT(*), SUM(o_orderkey)::BIGINT, SUM(o_custkey)::BIGINT
        |FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000
        |UNION ALL
        |SELECT 'v0', COUNT(*), SUM(o_orderkey)::BIGINT, SUM(o_custkey)::BIGINT
        |FROM orders
        |ORDER BY snap""".stripMargin)),
    Query("q56_catalog_lifecycle", (s, dir) => {
      // CATALOG LIFECYCLE completion (so a renamed/retired table leaves no
      // dangling binding): log_unregister removes the binding from the session
      // AND the persisted catalog (one more catalog commit), the name
      // fails at analysis afterwards, STAYS gone across a simulated
      // restart (clearMemory + loadPersisted — the removal is durable),
      // and is immediately re-registrable to a NEW root that resolves.
      val root = IndexCache.freshRoot("catlc")
      val tp = root.resolve("tbl").toString
      val tp2 = root.resolve("tbl2").toString
      s.conf.set("graft.catalog.root", root.resolve("cat").toString)
      try {
        val ord = Tables.orders(s, dir).select(
          col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("v"))
        new graft.operators.CommitTable(s, tp, "k").overwrite(ord)
        s.sql(s"SELECT * FROM log_register('q56_t', '$tp', 'k')").collect()
        val headRows = s.sql("SELECT COUNT(*) AS n FROM log_table('q56_t')")
          .head().getLong(0)
        s.sql("SELECT * FROM log_unregister('q56_t')").collect()
        def unknownFails(): Long =
          try { s.sql("SELECT * FROM log_table('q56_t')").collect(); 0L }
          catch { case e: Exception
            if e.getMessage != null && e.getMessage.contains("unknown registered table") => 1L }
        val goneNow = unknownFails()
        // simulated restart: the REMOVAL must be as durable as the
        // registration was (q54's discipline, inverted)
        graft.plans.TableRegistry.clearMemory()
        graft.plans.TableRegistry.loadPersisted(s)
        val goneAfterRestart = unknownFails()
        // the name is immediately re-bindable — to a NEW root
        new graft.operators.CommitTable(s, tp2, "k")
          .overwrite(ord.filter(col("k") < 100))
        s.sql(s"SELECT * FROM log_register('q56_t', '$tp2', 'k')").collect()
        val rereadRows = s.sql("SELECT COUNT(*) AS n FROM log_table('q56_t')")
          .head().getLong(0)
        val s2 = s
        import s2.implicits._
        Seq(
          ("gone_after_restart", goneAfterRestart),
          ("gone_after_unregister", goneNow),
          ("head_rows", headRows),
          ("reread_rows", rereadRows)
        ).toDF("metric", "value").orderBy("metric")
      } finally {
        s.conf.unset("graft.catalog.root")
        graft.plans.TableRegistry.unregister("q56_t")
      }
    },
      // the lifecycle restated: the original
      // by-name read is all of orders; both gone-flags are 1 (the
      // removal binds immediately AND survives the restart); the
      // re-registered name resolves the NEW root's k < 100 slice
      Sql("""SELECT 'gone_after_restart' AS metric, 1::BIGINT AS value
        |UNION ALL SELECT 'gone_after_unregister', 1
        |UNION ALL SELECT 'head_rows', (SELECT COUNT(*) FROM orders)
        |UNION ALL SELECT 'reread_rows',
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey < 100)
        |ORDER BY metric""".stripMargin)),
    Query("q54_persistent_catalog", (s, dir) => {
      // PERSISTENT NAMED CATALOG (q51's by-name bindings outlive the
      // session): with graft.catalog.root configured, log_register also
      // COMMITS the binding to a commit-log table of bindings (the
      // engine's own storage layer); a fresh session loads them at init.
      // Simulated restart: the in-memory map is cleared outright, then
      // loadPersisted (exactly what GraftSession.create runs) restores
      // resolution and the by-name read returns the table — while an
      // unknown name still fails at analysis (flag).
      val root = IndexCache.freshRoot("pcat")
      val tp = root.resolve("tbl").toString
      s.conf.set("graft.catalog.root", root.resolve("cat").toString)
      try {
        val t = new graft.operators.CommitTable(s, tp, "k")
        val ord = Tables.orders(s, dir).select(
          col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("v"))
        t.overwrite(ord.repartitionByRange(4, col("k")))
        s.sql(s"SELECT * FROM log_register('q54_sales', '$tp', 'k')").collect()
        // the "restart": memory gone, committed catalog survives
        graft.plans.TableRegistry.clearMemory()
        val loaded = graft.plans.TableRegistry.loadPersisted(s).toLong
        val unknownStillFails =
          try { s.sql("SELECT * FROM log_table('q54_nope')").collect(); 0L }
          catch { case e: Exception
            if e.getMessage != null && e.getMessage.contains("unknown registered table") => 1L }
        s.sql(
          s"""SELECT 'head' AS snap, COUNT(*) AS n, SUM(k) AS sum_k
             |FROM log_table('q54_sales')
             |UNION ALL
             |SELECT 'meta', $loaded, $unknownStillFails
             |ORDER BY snap""".stripMargin)
      } finally s.conf.unset("graft.catalog.root")
    },
      // the post-"restart" by-name read is the
      // full table; meta row = (1 binding loaded, unknown-name error
      // preserved)
      Sql("""SELECT 'head' AS snap, COUNT(*) AS n, SUM(o_orderkey)::BIGINT AS sum_k
        |FROM orders
        |UNION ALL SELECT 'meta', 1, 1
        |ORDER BY snap""".stripMargin)),
    Query("q51_named_catalog", (s, dir) => {
      // NAMED CATALOG over paths (no raw filesystem path literals in
      // every TVF call):
      // log_register binds a name once, then reads, writes, history and
      // index probes all run BY NAME — no path appears in any later
      // statement. The unknown-name analysis error (with the known-name
      // list) is spec-asserted in CommitLogSpec.
      val root = IndexCache.freshRoot("namedcat")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.repartitionByRange(4, col("k")))
      s.sql(s"SELECT * FROM log_register('q51_sales', '$tp', 'k')").collect()
      s.sql("SELECT COUNT(*) FROM log_delete('q51_sales', 1000, 5000)").collect()
      s.sql(
        """SELECT 'head' AS snap, COUNT(*) AS n, SUM(k) AS sum_k
          |FROM log_table('q51_sales')
          |UNION ALL
          |SELECT 'ranged', COUNT(*), SUM(k)
          |FROM log_table_range('q51_sales', 6000, 9000)
          |UNION ALL
          |SELECT 'v0', COUNT(*), SUM(k)
          |FROM log_table_at('q51_sales', 0)
          |ORDER BY snap""".stripMargin)
    },
      // by-name reads after the by-name delete: head
      // excludes [1000, 5000], the range read cuts [6000, 9000] of the
      // head, v0 is the full projection
      Sql("""SELECT 'head' AS snap, COUNT(*) AS n, SUM(o_orderkey)::BIGINT AS sum_k
        |FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000
        |UNION ALL
        |SELECT 'ranged', COUNT(*), SUM(o_orderkey)::BIGINT
        |FROM orders WHERE o_orderkey BETWEEN 6000 AND 9000
        |UNION ALL
        |SELECT 'v0', COUNT(*), SUM(o_orderkey)::BIGINT FROM orders
        |ORDER BY snap""".stripMargin)),
    Query("q52_sql_changes", (s, dir) => {
      // the CDF SQL surface (Delta's table_changes) + the multi-column
      // stats cut BY NAME: one register call (with the extra stats
      // column declared), then the change feed across a delete + an
      // append and a second-column range read all run as statements.
      // The file-cut on the extra column is spec-asserted; this gate
      // binds the row-level multiset CDF and the residual-filtered
      // range content.
      val root = IndexCache.freshRoot("sqlcdf")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k", extraStatsCols = Seq("v"))
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.repartitionByRange(4, col("k"))) // v0
      t.deleteRange(1000L, 5000L)                      // v1: CDF deletes
      t.append(Tables.nation(s, dir).select(           // v2: CDF inserts
        (col("n_nationkey").cast("long") + 20000000L).as("k"),
        col("n_regionkey").cast("long").as("v")))
      s.sql(s"SELECT * FROM log_register('q52_cdf', '$tp', 'k', 'v')").collect()
      s.sql(
        """SELECT 'cdf' AS part, change_type AS tag, COUNT(*) AS n, SUM(k) AS sum_k
          |FROM log_changes('q52_cdf', 0, 2) GROUP BY 1, 2
          |UNION ALL
          |SELECT 'rng', 'vcut', COUNT(*), SUM(k)
          |FROM log_table_range_on('q52_cdf', 'v', 100, 400)
          |ORDER BY part, tag""".stripMargin)
    },
      // the multiset CDF restated: the delete range's
      // rows as 'delete', the appended nation-derived rows as 'insert',
      // and the second-column range read over the post-delete head
      Sql("""SELECT 'cdf' AS part, 'delete' AS tag, COUNT(*) AS n,
        |       SUM(o_orderkey)::BIGINT AS sum_k
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
        |UNION ALL
        |SELECT 'cdf', 'insert', COUNT(*), SUM(n_nationkey + 20000000)::BIGINT
        |FROM nation
        |UNION ALL
        |SELECT 'rng', 'vcut', COUNT(*), SUM(o_orderkey)::BIGINT
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 400 AND o_orderkey NOT BETWEEN 1000 AND 5000
        |ORDER BY part, tag""".stripMargin)),
    Query("q53_sql_zorder", (s, dir) => {
      // OPTIMIZE ZORDER from pure SQL (Delta's `OPTIMIZE … ZORDER BY`)
      // plus catalog introspection (the SHOW TABLES shape): f17's
      // layout-only Morton-clustered rewrite is now one statement by
      // registered name, and the post-zorder second-dimension range read
      // (the f25 cut single-column clustering can't give) runs as the
      // next statement. log_tables() proves the registry row; content
      // identity through the rewrite is the gate (both-dimension file
      // cuts spec-asserted in CommitLogSpec).
      val root = IndexCache.freshRoot("sqlzorder")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "x", extraStatsCols = Seq("y"))
      // the k%4 slice: the gate binds the statement surface + catalog row,
      // not rewrite volume (f17 gates the zorder commit on the full table)
      val li = Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0).select(
        (col("l_orderkey") % 1024).cast("long").as("x"),
        (col("l_partkey") % 1024).cast("long").as("y"),
        col("l_quantity").cast("long").as("q"))
      t.overwrite(li.repartition(4))
      s.sql(s"SELECT * FROM log_register('q53_zt', '$tp', 'x', 'y')").collect()
      s.sql("SELECT COUNT(*) FROM log_optimize_zorder('q53_zt', 'x', 'y')").collect()
      s.sql(
        """SELECT 'catalog' AS snap, n, 0 AS sum_x, 0 AS sum_y, 0 AS sum_q
          |FROM (SELECT COUNT(*) AS n FROM log_tables() WHERE name = 'q53_zt'
          |      AND stats_col = 'x' AND extra_stats_cols = 'y')
          |UNION ALL
          |SELECT 'head', COUNT(*), SUM(x), SUM(y), SUM(q)
          |FROM log_table('q53_zt')
          |UNION ALL
          |SELECT 'ywindow', COUNT(*), SUM(x), SUM(y), SUM(q)
          |FROM log_table_range_on('q53_zt', 'y', 100, 199)
          |ORDER BY snap""".stripMargin)
    },
      // the zorder commit is layout-only, so head ==
      // the derivation and the y-window read == a plain filter; the
      // catalog row is the single registered binding
      Sql("""WITH d AS (SELECT l_orderkey % 1024 AS x, l_partkey % 1024 AS y,
        |                  l_quantity::BIGINT AS q FROM lineitem
        |           WHERE l_orderkey % 4 = 0)
        |SELECT 'catalog' AS snap, CAST(1 AS BIGINT) AS n, CAST(0 AS BIGINT) AS sum_x,
        |       CAST(0 AS BIGINT) AS sum_y, CAST(0 AS BIGINT) AS sum_q
        |UNION ALL
        |SELECT 'head', COUNT(*), SUM(x)::BIGINT, SUM(y)::BIGINT, SUM(q)::BIGINT FROM d
        |UNION ALL
        |SELECT 'ywindow', COUNT(*), SUM(x)::BIGINT, SUM(y)::BIGINT, SUM(q)::BIGINT
        |FROM d WHERE y BETWEEN 100 AND 199
        |ORDER BY snap""".stripMargin)),
    Query("q47_sql_optimize", (s, dir) => {
      // the OPTIMIZE maintenance statement for SQL-only users (q43/q46
      // gave them DML; streamed appends still accreted per-batch small
      // files only the Scala API could fold): three interleaved appends,
      // then one pure-SQL log_optimize folds them into range-clustered
      // files — content byte-identical (this gate), file count + stats
      // pruning survival spec-asserted in CommitLogSpec.
      val root = IndexCache.freshRoot("sqlopt")
      val tp = root.resolve("tbl").toString
      val t = new graft.operators.CommitTable(s, tp, "k")
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("v"))
      t.overwrite(ord.filter(col("k") % 3 === 0).repartition(6))
      t.append(ord.filter(col("k") % 3 === 1).repartition(6))
      t.append(ord.filter(col("k") % 3 === 2).repartition(6))
      s.sql(
        s"""SELECT COUNT(*) AS n_rows, SUM(k) AS sum_k, SUM(v) AS sum_v
           |FROM log_optimize('$tp', 'k', 'k', 4)""".stripMargin)
    },
      // OPTIMIZE is a layout maintenance commit —
      // content is byte-identical to the source rows
      Sql("""SELECT COUNT(*) AS n_rows, SUM(o_orderkey)::BIGINT AS sum_k,
        |       SUM(o_custkey)::BIGINT AS sum_v
        |FROM orders""".stripMargin)),
    Query("q13_pivot", (s, dir) => // pivot with explicit values (no extra
      // distinct-scan job, deterministic column order); empty cells stay
      // NULL on both sides (SUM over no rows)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .withColumnRenamed("F", "n_f").withColumnRenamed("O", "n_o")
        .orderBy("l_returnflag"),
      Sql("""SELECT l_returnflag,
        |  SUM(CASE WHEN l_linestatus = 'F' THEN 1 END)::BIGINT AS n_f,
        |  SUM(CASE WHEN l_linestatus = 'O' THEN 1 END)::BIGINT AS n_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("q34_sql_pivot", (s, dir) => {
      // the SQL:2016 PIVOT clause through the parser (q13 is the
      // DataFrame-API cousin): sum of quantities per return flag,
      // statuses fanned to columns; empty cells stay NULL on both sides
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT * FROM (SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS q
          |               FROM lineitem_v)
          |PIVOT (SUM(q) FOR l_linestatus IN ('F' AS f, 'O' AS o))
          |ORDER BY l_returnflag""".stripMargin)
    },
      Sql("""SELECT l_returnflag,
        |  SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) END)::BIGINT AS f,
        |  SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) END)::BIGINT AS o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("q35_sql_unpivot", (s, dir) => {
      // PIVOT → UNPIVOT round trip through the parser: the wide table of
      // q34 melted back to (flag, status, total) — UNPIVOT's default
      // NULL-row drop is part of the contract the oracle mirrors
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, status, total FROM (
          |  SELECT * FROM (SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS q
          |                 FROM lineitem_v)
          |  PIVOT (SUM(q) FOR l_linestatus IN ('F' AS f, 'O' AS o))
          |) UNPIVOT (total FOR status IN (f, o))
          |ORDER BY l_returnflag, status""".stripMargin)
    },
      // conditional-agg arms unioned back to long form;
      // arms that summed no rows are dropped, mirroring UNPIVOT's default
      Sql("""WITH w AS (SELECT l_returnflag,
        |  SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) END)::BIGINT AS f,
        |  SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) END)::BIGINT AS o
        |FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, status, total FROM (
        |  SELECT l_returnflag, 'f' AS status, f AS total FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'o' AS status, o AS total FROM w)
        |WHERE total IS NOT NULL ORDER BY l_returnflag, status""".stripMargin)),
    Query("q3_top_revenue", (s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < expr("TIMESTAMP'1998-01-01 00:00:00'"))
      val l = Tables.lineitem(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(dec12("l_extendedprice") * (lit(1) - dec4("l_discount"))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    },
      Sql("""SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Query("q5_local_volume", (s, dir) => {
      // TPC-H Q5 shape: six-table join; local-supplier revenue per nation in
      // one region/year. Dims (region/nation/supplier/customer) broadcast;
      // only the orders⋈lineitem fact join shuffles.
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir).join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= expr("TIMESTAMP'1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP'1997-01-01 00:00:00'"))
      val l = Tables.lineitem(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey")) // "local supplier"
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec12("l_extendedprice") * (lit(1) - dec4("l_discount"))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      Sql("""SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |  JOIN supplier ON s_nationkey = n_nationkey
        |  JOIN lineitem ON l_suppkey = s_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),
    Query("q10_promo_share", (s, dir) => {
      // TPC-H Q14 shape: promo revenue share per month. Part is broadcast;
      // the conditional aggregation is decimal-exact, the final ratio is
      // one double division of two exact sums (order-insensitive).
      val l = Tables.lineitem(s, dir).filter(
        col("l_shipdate") >= expr("TIMESTAMP'1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP'1997-01-01 00:00:00'"))
      val p = Tables.part(s, dir)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
        .agg(
          sum(when(col("p_type") === "PROMO", dec12("l_extendedprice") * (lit(1) - dec4("l_discount")))
            .otherwise(lit(0).cast("decimal(12,2)"))).cast("double").as("promo_revenue"),
          sum(dec12("l_extendedprice") * (lit(1) - dec4("l_discount"))).cast("double").as("total_revenue"))
        .withColumn("promo_share_1e6",
          floor(col("promo_revenue") / col("total_revenue") * 1e6).cast("long"))
        .orderBy("month")
    },
      Sql("""SELECT date_trunc('month', l_shipdate) AS month,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |                THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue,
        |  CAST(floor(CAST(SUM(CASE WHEN p_type = 'PROMO'
        |                THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) * 1e6) AS BIGINT) AS promo_share_1e6
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("q4_semi_join", (s, dir) => { // orders with >=1 returned lineitem
      val returned = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      Tables.orders(s, dir)
        .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
      Sql("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("q5_anti_join", (s, dir) => // customers with no big-ticket orders
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 200000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment"),
      Sql("""SELECT c_mktsegment, COUNT(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("q16_outer_join", (s, dir) => // outer-join family: unmatched left
      // rows survive with nulls; COUNT(col) vs COUNT(*) separates them
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 150000.0),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), count(col("o_orderkey")).as("n_matched"))
        .orderBy("c_mktsegment"),
      Sql("""SELECT c_mktsegment, COUNT(*) AS n_rows, COUNT(o_orderkey) AS n_matched
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 150000.0) o
        |  ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("q17_unpivot", (s, dir) => // unpivot/melt (Spark Expand plan):
      // wide measure columns to (metric, value) rows, decimal-exact sums
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), dec12("l_quantity").as("qty"),
          dec12("l_extendedprice").as("price"))
        .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
          "metric", "value")
        .groupBy("l_returnflag", "metric")
        .agg(count(lit(1)).as("n"), sum("value").cast("double").as("sum_value"))
        .orderBy("l_returnflag", "metric"),
      Sql("""WITH u AS (
        |  SELECT l_returnflag, 'qty' AS metric, CAST(l_quantity AS DECIMAL(12,2)) AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'price' AS metric, CAST(l_extendedprice AS DECIMAL(12,2)) AS value FROM lineitem)
        |SELECT l_returnflag, metric, COUNT(*) AS n, CAST(SUM(value) AS DOUBLE) AS sum_value
        |FROM u GROUP BY l_returnflag, metric ORDER BY l_returnflag, metric""".stripMargin)),
    Query("e1_json_stats", (s, dir) =>
      EventStreams.normalized(Tables.events(s, dir))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type"),
      // SUM(BIGINT) is HUGEINT in DuckDB: cast back so the
      // dtype matches Spark's LONG
      Sql("""SELECT event_type, COUNT(*) AS n, SUM((props ->> 'k')::BIGINT)::BIGINT AS sum_k,
        |       MIN((props ->> 'k')::BIGINT) AS min_k, MAX((props ->> 'k')::BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("e2_first_events", (s, dir) => { // window fns: first 3 events per user
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      EventStreams.normalized(Tables.events(s, dir))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("rn").cast("long").as("rn"),
          (col("ts_us") - lag("ts_us", 1).over(w)).as("gap_us"))
        .orderBy("user_id", "rn")
    },
      Sql("""WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS e,
        |                  row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
        |                  epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |           FROM events)
        |SELECT user_id, event_id, rn::BIGINT AS rn, gap_us FROM o WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin)),
    Query("e8_running_total", (s, dir) => { // window FRAMES: per-customer
      // cumulative spend (rows between unbounded preceding and current);
      // decimal-exact inside the frame, cast once at the end
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec12("o_totalprice")).over(w).cast("double").as("cum_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },
      Sql("""SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Query("e3_intersect_users", (s, dir) => { // set op: INTERSECT
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase").select("user_id")
        .intersect(ev.filter(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    },
      Sql("""SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin)),
    Query("e4_except_users", (s, dir) => { // set op: EXCEPT on (user, payload)
      // pairs — selective enough to be non-vacuous on dense event data
      val ev = EventStreams.normalized(Tables.events(s, dir))
      ev.filter(col("event_type") === "view").select("user_id", "k")
        .except(ev.filter(col("event_type") === "click").select("user_id", "k"))
        .orderBy("user_id", "k")
    },
      Sql("""SELECT user_id, (props ->> 'k')::BIGINT AS k FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id, (props ->> 'k')::BIGINT AS k FROM events WHERE event_type = 'click'
        |ORDER BY user_id, k""".stripMargin)),
    Query("e16_multiset_ops", (s, dir) => {
      // EXCEPT ALL / INTERSECT ALL — the MULTISET set-ops (duplicate
      // multiplicities preserved: m-n and min(m,n) copies respectively), a
      // different physical plan from e3/e4's distinct-semantics set ops
      // (Spark rewrites them to a signed-count aggregate + generate, not a
      // dedup join). Reduced to counts so the gate output stays small;
      // the multiset nodes are what this query binds.
      val ev = EventStreams.normalized(Tables.events(s, dir))
      val v = ev.filter(col("event_type") === "view").select("user_id", "k")
      val c = ev.filter(col("event_type") === "click").select("user_id", "k")
      v.exceptAll(c).agg(count(lit(1)).as("n"))
        .select(lit("except_all").as("op"), col("n"))
        .unionByName(
          v.intersectAll(c).agg(count(lit(1)).as("n"))
            .select(lit("intersect_all").as("op"), col("n")))
        .orderBy("op")
    },
      Sql("""WITH v AS (SELECT user_id, (props ->> 'k')::BIGINT AS k FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, (props ->> 'k')::BIGINT AS k FROM events WHERE event_type = 'click'),
        |ea AS (SELECT * FROM v EXCEPT ALL SELECT * FROM c),
        |ia AS (SELECT * FROM v INTERSECT ALL SELECT * FROM c)
        |SELECT 'except_all' AS op, (SELECT COUNT(*) FROM ea)::BIGINT AS n
        |UNION ALL
        |SELECT 'intersect_all', (SELECT COUNT(*) FROM ia)::BIGINT
        |ORDER BY op""".stripMargin)),
    Query("e6_asof_attribution", (s, dir) => {
      // as-of join: each purchase attributed to the user's latest view at or
      // before it — through the shared TemporalJoins.asofJoin operator
      // (union + last(ignoreNulls) over an ordered window, shuffle-once;
      // DuckDB mirrors with ASOF-equivalent window SQL in microseconds so
      // tie semantics match exactly)
      val ev = EventStreams.normalized(Tables.events(s, dir))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_us"))
      TemporalJoins.asofJoin(purchases, views, key = "user_id",
          leftTime = "ts_us", rightTime = "ts_us",
          rightValues = Seq("event_id" -> "view_id"), rightTieBreak = Seq("event_id"))
        .select(col("purchase_id"), col("user_id"), col("view_id"))
        .orderBy("purchase_id")
    },
      Sql("""WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, 0 AS kind, event_id FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts) AS ts_us, 1 AS kind, event_id FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT *, last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY ts_us, kind, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id
        |      FROM t)
        |SELECT event_id AS purchase_id, user_id, view_id FROM w WHERE kind = 1 ORDER BY purchase_id""".stripMargin)),
    Query("e7_range_pairs", (s, dir) => {
      // range join: clicks within 1 h after a view by the same user —
      // through the shared TemporalJoins.rangeJoin operator (1 h bucket
      // grains ⇒ equi join on (user, bucket) with a 2-bucket fan-out, no
      // quadratic range explosion at scale)
      val B = 3600000000L
      val ev = EventStreams.normalized(Tables.events(s, dir))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("v_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("c_us"))
      TemporalJoins.rangeJoin(views, clicks, key = "user_id",
          leftTime = "v_us", rightTime = "c_us", window = B)
        .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },
      Sql("""SELECT v.user_id, COUNT(*) AS n_pairs
        |FROM (SELECT user_id, epoch_us(ts) AS v_us FROM events WHERE event_type = 'view') v
        |JOIN (SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id AND c.c_us >= v.v_us AND c.c_us - v.v_us <= 3600000000
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin)),
    Query("e19_asof_tolerance", (s, dir) => {
      // as-of join WITH TOLERANCE (pandas merge_asof(tolerance=...) /
      // kdb wj semantics): the latest at-or-before view matches only if
      // within 2h of the purchase — staler matches null out. Composed on
      // the shared asofJoin by also carrying the right row's timestamp;
      // correctness rests on monotonicity (if the LATEST prior view is too
      // stale, every earlier one is staler), so no second pass is needed
      val ev = EventStreams.normalized(Tables.events(s, dir))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_us"))
      TemporalJoins.asofJoin(purchases, views, key = "user_id",
          leftTime = "ts_us", rightTime = "ts_us",
          rightValues = Seq("event_id" -> "view_id", "ts_us" -> "view_ts_us"),
          rightTieBreak = Seq("event_id"))
        .select(col("purchase_id"), col("user_id"),
          when(col("ts_us") - col("view_ts_us") <= 7200000000L, col("view_id"))
            .as("view_id"))
        .orderBy("purchase_id")
    },
      Sql("""WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, 0 AS kind, event_id FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts) AS ts_us, 1 AS kind, event_id FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT *,
        |        last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS) OVER win AS view_id,
        |        last_value(CASE WHEN kind = 0 THEN ts_us END IGNORE NULLS) OVER win AS view_ts_us
        |      FROM t
        |      WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, kind, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_id, user_id,
        |       CASE WHEN ts_us - view_ts_us <= 7200000000 THEN view_id END AS view_id
        |FROM w WHERE kind = 1 ORDER BY purchase_id""".stripMargin)),
    Query("e22_attribution", (s, dir) => {
      // position-based multi-touch attribution (the marketing 40/20/40
      // rule): each purchase's credit splits over its qualifying prior
      // views (same user, ≤24h before): 1 view → 1000‰; 2 → 500/500;
      // n≥3 → last 400, middles 200 div (n−2) each, first 400 + the
      // division remainder — ALL integer permille, summing to exactly
      // 1000 per purchase on both engines (no float weights). Shape: one
      // user-key join, one per-purchase window — the window groups are
      // per-purchase qualifying views, bounded by the 24h horizon.
      val ev = EventStreams.normalized(Tables.events(s, dir))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts_us").as("v_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us").as("p_us"))
      val touches = purchases.join(views, Seq("user_id"))
        .filter(col("v_us") <= col("p_us") &&
          col("p_us") - col("v_us") <= 86400000000L)
      val w = Window.partitionBy("purchase_id").orderBy(col("v_us"), col("view_id"))
      val wn = Window.partitionBy("purchase_id")
      touches
        .withColumn("pos", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("credit_permille",
          when(col("n") === 1, lit(1000L))
            .when(col("n") === 2, lit(500L))
            .when(col("pos") === 1,
              lit(400L) + lit(200L) - expr("200 div (n - 2)") * (col("n") - 2))
            .when(col("pos") === col("n"), lit(400L))
            .otherwise(expr("200 div (n - 2)")))
        .select(col("purchase_id"), col("view_id"),
          col("pos").cast("long").as("pos"),
          col("credit_permille").cast("long").as("credit_permille"))
        .orderBy("purchase_id", "pos")
    },
      // same join + windows + integer credit split
      Sql("""WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_us
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
        |      FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT p.purchase_id, v.view_id, v.v_us
        |      FROM p JOIN v ON v.user_id = p.user_id
        |       AND v.v_us <= p.p_us AND p.p_us - v.v_us <= 86400000000),
        |r AS (SELECT purchase_id, view_id,
        |             row_number() OVER (PARTITION BY purchase_id ORDER BY v_us, view_id) AS pos,
        |             COUNT(*) OVER (PARTITION BY purchase_id) AS n
        |      FROM t)
        |SELECT purchase_id, view_id, pos::BIGINT AS pos,
        |       (CASE WHEN n = 1 THEN 1000 WHEN n = 2 THEN 500
        |             WHEN pos = 1 THEN 400 + 200 - (200 // (n - 2)) * (n - 2)
        |             WHEN pos = n THEN 400
        |             ELSE 200 // (n - 2) END)::BIGINT AS credit_permille
        |FROM r ORDER BY purchase_id, pos""".stripMargin)),
    Query("e20_value_deciles", (s, dir) => {
      // per-type decile profile of the value distribution (feature
      // normalization for training pipelines): decile assignment is pure
      // INTEGER math over a unique total order — (rn-1)*10 div n on
      // row_number ordered by (value, event_id) — so the bucket boundary
      // is bit-exact on both engines (a percent_rank float compare would
      // not be); only the per-bucket mean needs the round(·,6) discipline.
      // Shape: one window sort per event_type, then a tiny (type, bucket)
      // rollup — at scale the sort is the shuffle that rank stats always
      // cost, with nothing corpus-sized in the rollup.
      val wN = Window.partitionBy("event_type")
      val wR = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      Tables.events(s, dir).select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(wR))
        .withColumn("n", count(lit(1)).over(wN))
        .groupBy(col("event_type"), expr("(rn - 1) * 10 div n").as("bucket"))
        .agg(count(lit(1)).as("n_events"), Num.round6(avg("value")).as("avg_value"),
          min("value").as("min_value"), max("value").as("max_value"))
        .orderBy("event_type", "bucket")
    },
      // integer-exact decile binning via row_number
      // over the unique (value, event_id) order; only avg needs round(·,6)
      Sql("""WITH r AS (SELECT event_type, value,
        |                 row_number() OVER (PARTITION BY event_type
        |                                    ORDER BY value, event_id) AS rn,
        |                 COUNT(*) OVER (PARTITION BY event_type) AS n
        |          FROM events)
        |SELECT event_type, ((rn - 1) * 10 // n)::BIGINT AS bucket,
        |       COUNT(*) AS n_events, round(AVG(value), 6) + 0.0 AS avg_value,
        |       MIN(value) AS min_value, MAX(value) AS max_value
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("e21_retention_cohorts", (s, dir) => {
      // cohort retention triangle: cohort = a user's first active day,
      // n_users = users of that cohort active again `offset_days` later.
      // Scale form mirrors e14: distinct (user, day) first (one hash
      // shuffle), min-day cohort per user, then a (cohort, offset) rollup
      // whose cardinality is days² at most — no expanding windows, no
      // per-user state beyond the aggregates.
      val days = EventStreams.normalized(Tables.events(s, dir))
        .select(col("user_id"), expr("ts_us div 86400000000").as("day")).distinct()
      val cohort = days.groupBy("user_id").agg(min("day").as("cohort_day"))
      days.join(cohort, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
        .agg(count(lit(1)).as("n_users")) // (user, day) distinct -> count = distinct users
        .orderBy("cohort_day", "offset_days")
    },
      // dedup-then-rollup mirror of e14's shape
      Sql("""WITH days AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
        |SELECT c.cohort_day::BIGINT AS cohort_day,
        |       (d.day - c.cohort_day)::BIGINT AS offset_days,
        |       COUNT(*) AS n_users
        |FROM days d JOIN c ON d.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("e17_interval_overlaps", (s, dir) => {
      // interval-overlap join (intervals × intervals, vs e7's points ×
      // points): pairs of same-supplier lineitems whose order-fulfillment
      // windows [o_orderdate, l_shipdate] overlap — concurrent open-order
      // load per supplier. Through TemporalJoins.intervalOverlapSelfJoin:
      // explode to covered 128-day buckets (synthetic spans run to ~2500
      // days ⇒ fan-out ≤ 20, inside the guard), equi join on (supplier,
      // bucket), one attribution bucket per pair — never the per-supplier
      // quadratic product. Inverted intervals (this generator ships before
      // the order ~half the time) drop per the operator contract — the
      // oracle mirrors the filter. Epoch-day ints end to end.
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"), col("l_shipdate"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"),
          (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("line_id"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("start_d"),
          datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("end_d"))
      TemporalJoins.intervalOverlapSelfJoin(li, key = "l_suppkey",
          id = "line_id", start = "start_d", end = "end_d", bucket = 128L)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_pairs"), sum("overlap").as("sum_overlap_days"))
        .orderBy("l_suppkey")
    },
      Sql("""WITH li AS (SELECT l_suppkey, l_orderkey * 8 + l_linenumber AS line_id,
        |                   (o_orderdate::DATE - DATE '1970-01-01') AS s_d,
        |                   (l_shipdate::DATE - DATE '1970-01-01') AS e_d
        |            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |            WHERE o_orderdate::DATE <= l_shipdate::DATE)
        |SELECT a.l_suppkey, COUNT(*)::BIGINT AS n_pairs,
        |       SUM(LEAST(a.e_d, b.e_d) - GREATEST(a.s_d, b.s_d) + 1)::BIGINT AS sum_overlap_days
        |FROM li a JOIN li b
        |  ON a.l_suppkey = b.l_suppkey AND a.line_id < b.line_id
        | AND a.s_d <= b.e_d AND b.s_d <= a.e_d
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("e27_outliers", (s, dir) => {
      // 3-sigma anomaly counts per event type with EXACT integer
      // arithmetic: |v − μ| > 3σ cross-multiplied to
      // (v·n − S)² > 9·(n·Q − S²) over permille values — no sqrt, no
      // float mean/variance, so the outlier DECISION is bit-identical on
      // any engine and any partitioning (a float stddev differs in the
      // last ulps by sum order, and a borderline event would flip).
      // DECIMAL(38,0) covers the squared terms to ~1e38 — sufficient
      // through sf100-scale row counts. Shape: one stats rollup (5 rows)
      // broadcast back over one scan.
      Tables.events(s, dir).createOrReplaceTempView("events_o")
      s.sql(
        """WITH b AS (SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS v
          |           FROM events_o),
          |st AS (SELECT event_type, COUNT(*) AS n,
          |              SUM(CAST(v AS DECIMAL(38,0))) AS sv,
          |              SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS q
          |       FROM b GROUP BY event_type),
          |j AS (SELECT b.event_type, b.v, st.n, st.sv, st.q,
          |             CAST(b.v AS DECIMAL(38,0)) * st.n - st.sv AS d
          |      FROM b JOIN st USING (event_type))
          |SELECT event_type, MAX(n) AS n_events,
          |       SUM(CASE WHEN d * d > 9 * (CAST(n AS DECIMAL(38,0)) * q - sv * sv)
          |                THEN 1 ELSE 0 END) AS n_outliers,
          |       SUM(CASE WHEN d * d > 9 * (CAST(n AS DECIMAL(38,0)) * q - sv * sv)
          |                THEN v END) AS sum_outlier_v1000
          |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // same cross-multiplied integer test in HUGEINT
      Sql("""WITH b AS (SELECT event_type, round(value * 1000)::BIGINT AS v FROM events),
        |st AS (SELECT event_type, COUNT(*) AS n, SUM(v::HUGEINT) AS sv,
        |              SUM(v::HUGEINT * v::HUGEINT) AS q
        |       FROM b GROUP BY 1),
        |j AS (SELECT b.event_type, b.v, st.n, st.sv, st.q,
        |             b.v::HUGEINT * st.n - st.sv AS d
        |      FROM b JOIN st USING (event_type))
        |SELECT event_type, MAX(n)::BIGINT AS n_events,
        |       SUM(CASE WHEN d * d > 9 * (n::HUGEINT * q - sv * sv)
        |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        |       SUM(CASE WHEN d * d > 9 * (n::HUGEINT * q - sv * sv)
        |                THEN v END)::BIGINT AS sum_outlier_v1000
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("e26_ewma", (s, dir) => {
      // exponentially weighted moving average per user (α = 1/2, seeded
      // at the first value): the standard feature-smoothing recurrence
      // s ← (s + v)/2, evaluated as a SEQUENTIAL FOLD over each user's
      // time-ordered value list — both engines then execute the identical
      // IEEE add/divide sequence, so the result is bit-reproducible
      // WITHOUT integer tricks (the fold-order discipline of t27, applied
      // to a recurrence that has no closed aggregate form). Scale trade,
      // documented: collect_list makes per-user memory O(events-per-key)
      // — the honest shape for an order-dependent recurrence (the
      // alternative, pow-weighted window sums, reintroduces cross-engine
      // pow and float-sum-order divergence); this corpus holds ≤10³
      // events/user, and a 100 TB deployment shards the fold by
      // (user, epoch) exactly like t11's per-shard packing.
      Tables.events(s, dir)
        .select(col("user_id"),
          struct(unix_micros(col("ts")).as("t"), col("event_id").as("i"),
            col("value").as("v")).as("e"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("e"))).as("seq"))
        .select(col("user_id"), size(col("seq")).cast("long").as("n_events"),
          Num.round6(expr(
            "aggregate(slice(seq, 2, size(seq) - 1), " +
              "CAST(element_at(seq, 1).v AS DOUBLE), (acc, x) -> (acc + x.v) / 2)"))
            .as("ewma_6"))
        .orderBy("user_id")
    },
      // same ordered fold: list(... ORDER BY t, i) then
      // list_reduce seeds with the first element — identical op sequence
      Sql("""WITH l AS (SELECT user_id,
        |                  list(value ORDER BY epoch_us(ts), event_id) AS vs
        |           FROM events GROUP BY user_id)
        |SELECT user_id, len(vs)::BIGINT AS n_events,
        |       ROUND(list_reduce(vs, (a, b) -> (a + b) / 2), 6) + 0.0 AS ewma_6
        |FROM l ORDER BY user_id""".stripMargin)),
    Query("e25_asof_nearest", (s, dir) => {
      // nearest-direction as-of (pandas merge_asof direction='nearest'):
      // each purchase matched to its CLOSEST view either side within 2h,
      // equidistant ties resolving backward — two linear asof passes
      // (backward + mirrored-time forward), never an inequality-join
      // product; complements e6 (backward) and e19 (backward+tolerance)
      val ev = EventStreams.normalized(Tables.events(s, dir))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_us"))
      TemporalJoins.asofJoinNearest(purchases, views, key = "user_id",
          leftTime = "ts_us", rightTime = "ts_us",
          rightValues = Seq("event_id" -> "view_id"), tolerance = 7200000000L,
          rightTieBreak = Seq("event_id"))
        .select(col("purchase_id"), col("user_id"), col("view_id"))
        .orderBy("purchase_id")
    },
      // candidate rank mirror: distance ASC, backward
      // wins ties (is_bk DESC), same-instant ties to the max view id
      Sql("""WITH v AS (SELECT user_id, epoch_us(ts) AS vt, event_id AS view_id
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pt
        |      FROM events WHERE event_type = 'purchase'),
        |cand AS (SELECT p.purchase_id, p.user_id, v.view_id,
        |                abs(v.vt - p.pt) AS dist, (v.vt <= p.pt)::INT AS is_bk
        |         FROM p JOIN v USING (user_id)
        |         WHERE abs(v.vt - p.pt) <= 7200000000),
        |r AS (SELECT *, row_number() OVER (PARTITION BY purchase_id
        |                 ORDER BY dist, is_bk DESC, view_id DESC) AS rn FROM cand)
        |SELECT p.purchase_id, p.user_id, r.view_id
        |FROM p LEFT JOIN r ON r.purchase_id = p.purchase_id AND r.rn = 1
        |ORDER BY p.purchase_id""".stripMargin)),
    Query("e24_twap", (s, dir) => {
      // time-weighted average value per user (the TWAP/utilization shape:
      // a reading holds until the next one, so its weight is its holding
      // time — the plain mean over-counts burst periods). INTEGER end to
      // end: value in exact permille (round(v*1000), identical half-up on
      // both engines for positive doubles), holding time in millis, twap
      // = Σ v·dt div Σ dt — no float partial-sum order to diverge. One
      // window sort per user then a per-user rollup; the last event has
      // no successor and drops (no horizon assumption), zero-span users
      // guard the division with greatest(span, 1).
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
          round(col("value") * 1000).cast("long").as("v1000"))
        .withColumn("next_us", lead(col("ts_us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("dt_ms", expr("(next_us - ts_us) div 1000"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_holds"), sum("dt_ms").as("span_ms"),
          expr("sum(v1000 * dt_ms) div greatest(sum(dt_ms), 1)").as("twap_1000"))
        .orderBy("user_id")
    },
      // same permille/millis integer discipline
      Sql("""WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |                  round(value * 1000)::BIGINT AS v1000 FROM events),
        |h AS (SELECT user_id, v1000,
        |             (lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |              - ts_us) // 1000 AS dt_ms
        |      FROM b)
        |SELECT user_id, COUNT(*) AS n_holds, SUM(dt_ms)::BIGINT AS span_ms,
        |       (SUM(v1000 * dt_ms) // GREATEST(SUM(dt_ms), 1))::BIGINT AS twap_1000
        |FROM h WHERE dt_ms IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("e23_merged_intervals", (s, dir) => {
      // gaps-and-islands over e17's supplier fulfillment intervals: where
      // e17 scores PAIRWISE overlap, this collapses each supplier's
      // [orderdate, shipdate] spans into maximal busy islands — one
      // Exchange + one shared Sort + a hash aggregate (the linear form;
      // the naive overlap-pairs formulation is quadratic per key).
      // Inverted spans (ship before order, ~half this generator) are
      // filtered, NOT dropped silently — mergeIntervals raises on them by
      // contract, and the oracle mirrors the filter. Epoch-day ints.
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"), col("l_shipdate"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"),
          (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("line_id"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("start_d"),
          datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("end_d"))
        .filter(col("start_d") <= col("end_d"))
      Sessionization.mergeIntervals(li, key = "l_suppkey",
          start = "start_d", end = "end_d", tieBreak = Seq("line_id"))
        .orderBy("l_suppkey", "island_seq")
    },
      // the same interval derivation as e17's
      // oracle (inverted spans filtered), through the gaps-and-islands
      // mirror — running-max open test, closed-interval touch rule
      Sql(s"""SELECT k AS l_suppkey, island_seq, island_start, island_end, n_intervals
         |FROM (${Sessionization.mergeIntervalsSql(
              """SELECT l_suppkey AS k,
                |       (o_orderdate::DATE - DATE '1970-01-01') AS s,
                |       (l_shipdate::DATE - DATE '1970-01-01') AS e,
                |       l_orderkey * 8 + l_linenumber AS tb
                |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                |WHERE o_orderdate::DATE <= l_shipdate::DATE""".stripMargin)})
         |ORDER BY 1, 2""".stripMargin)),
    Query("e18_order_milestones", (s, dir) => {
      // first_value / nth_value / last_value over an UNBOUNDED-both-ways
      // frame (the offset window family; e2's lag/lead walk relative rows,
      // these address absolute frame positions — nth_value is its own
      // Catalyst expression with null-when-absent semantics for customers
      // with < 3 orders). One row per customer via row_number on the same
      // window spec: Spark plans ONE Window operator for all four.
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir).select(col("o_custkey"),
          first(col("o_orderkey")).over(wf).as("first_key"),
          nth_value(col("o_orderkey"), 3).over(wf).as("third_key"),
          last(col("o_orderkey")).over(wf).as("last_key"),
          count(lit(1)).over(wf).as("n_orders"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("o_custkey")
    },
      Sql("""WITH w AS (SELECT o_custkey,
        |  first_value(o_orderkey) OVER win AS first_key,
        |  nth_value(o_orderkey, 3) OVER win AS third_key,
        |  last_value(o_orderkey) OVER win AS last_key,
        |  COUNT(*) OVER win AS n_orders,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |FROM orders
        |WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT o_custkey, first_key, third_key, last_key, n_orders
        |FROM w WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),
    Query("e11_spend_quartiles", (s, dir) => { // ranking-window surface:
      // ntile + percent_rank + dense_rank over per-customer spend, ranked
      // WITHIN market segment — a partitioned window (an unpartitioned
      // global ranking would funnel every row through one task; if a truly
      // global rank is ever needed, the scale form is range-partition +
      // per-partition counts + offset add, not Window.orderBy). Exact
      // DECIMAL totals; percent_rank is the same (rank-1)/(n-1) double on
      // both engines.
      val spend = Tables.orders(s, dir)
        .groupBy("o_custkey").agg(sum(dec12("o_totalprice")).as("spend"))
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
      val w = Window.partitionBy("c_mktsegment").orderBy(col("spend").desc, col("o_custkey"))
      spend.select(col("o_custkey"), col("c_mktsegment"),
          col("spend").cast("double").as("spend"),
          ntile(4).over(w).cast("long").as("quartile"),
          dense_rank().over(w).cast("long").as("drank"),
          round(percent_rank().over(w) * 1e6).cast("long").as("prank_1e6"))
        .orderBy("o_custkey")
    },
      Sql("""WITH s AS (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
        |           FROM orders GROUP BY 1),
        |j AS (SELECT o_custkey, c_mktsegment, spend
        |      FROM s JOIN customer ON c_custkey = o_custkey)
        |SELECT o_custkey, c_mktsegment, CAST(spend AS DOUBLE) AS spend,
        |       ntile(4) OVER w::BIGINT AS quartile,
        |       dense_rank() OVER w::BIGINT AS drank,
        |       round(percent_rank() OVER w * 1e6)::BIGINT AS prank_1e6
        |FROM j WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend DESC, o_custkey)
        |ORDER BY o_custkey""".stripMargin)),
    Query("e10_ship_latency", (s, dir) => // date arithmetic surface: per-year
      // order-to-ship latency histogram (datediff + extract), portable
      // day-grained semantics on both engines
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lat_days"))
        .groupBy("yr", "lat_days").agg(count(lit(1)).as("n"))
        .orderBy("yr", "lat_days"),
      Sql("""SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS yr,
        |       datediff('day', o_orderdate::DATE, l_shipdate::DATE)::BIGINT AS lat_days,
        |       COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("e12_trailing_spend", (s, dir) => {
      // RANGE window frame — the value-based frame code path (e8 covers
      // ROWS frames): per-customer spend over the trailing 90 days, keyed
      // by an integral day offset. RANGE includes all order-column peers in
      // the frame, so same-day orders see the same sum and the result is
      // tie-deterministic by construction; decimal-exact inside the frame.
      val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-89, 0)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).as("day"),
          dec12("o_totalprice").as("p"))
        .select(col("o_custkey"), col("o_orderkey"), col("day").cast("long").as("day"),
          sum(col("p")).over(w).cast("double").as("spend_90d"))
        .orderBy("o_custkey", "o_orderkey")
    },
      Sql("""WITH t AS (SELECT o_custkey, o_orderkey,
        |                  datediff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS day,
        |                  CAST(o_totalprice AS DECIMAL(12,2)) AS p
        |           FROM orders)
        |SELECT o_custkey, o_orderkey, day,
        |       CAST(SUM(p) OVER (PARTITION BY o_custkey ORDER BY day
        |                         RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d
        |FROM t ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Query("e13_gap_fill", (s, dir) => {
      // time-series RESAMPLE / gap-fill — the densify step feature
      // pipelines need before rolling statistics: per-customer daily order
      // counts with MISSING days materialized at 0. Each customer's
      // sequence+explode spans only that customer's own [min, max] day
      // range (never a global calendar cross join), so fill cost is
      // per-key-span, embarrassingly parallel after one count shuffle;
      // bounded to one year here to keep the gate output proportionate.
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= expr("TIMESTAMP'1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP'1997-01-01 00:00:00'"))
        .select(col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).as("day"))
      val counts = o.groupBy("o_custkey", "day").agg(count(lit(1)).as("n"))
      val spans = counts.groupBy("o_custkey").agg(min("day").as("d0"), max("day").as("d1"))
      spans.select(col("o_custkey"), explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(counts, Seq("o_custkey", "day"), "left_outer")
        .select(col("o_custkey"), col("day").cast("long").as("day"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("o_custkey", "day")
    },
      Sql("""WITH o AS (SELECT o_custkey, datediff('day', DATE '1970-01-01', o_orderdate::DATE) AS day
        |           FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
        |c AS (SELECT o_custkey, day, COUNT(*) AS n FROM o GROUP BY 1, 2),
        |s AS (SELECT o_custkey, MIN(day) AS d0, MAX(day) AS d1 FROM c GROUP BY 1),
        |g AS (SELECT o_custkey, UNNEST(range(d0, d1 + 1)) AS day FROM s)
        |SELECT g.o_custkey, g.day::BIGINT AS day, COALESCE(c.n, 0)::BIGINT AS n
        |FROM g LEFT JOIN c ON c.o_custkey = g.o_custkey AND c.day = g.day
        |ORDER BY g.o_custkey, g.day""".stripMargin)),
    Query("e15_funnel", (s, dir) => {
      // ordered funnel analysis (view -> click within 24 h -> purchase
      // within 24 h of the click): per-user earliest qualifying time per
      // stage, then depth counts — the product-analytics sequence query.
      // Each stage is one narrow (user, min-ts) aggregate joined forward;
      // strict microsecond inequalities + an integral window, identical in
      // the mirror. Depth counts include users who never viewed (depth 0).
      val W = 86400000000L // 24 h in µs
      val ev = EventStreams.normalized(Tables.events(s, dir))
        .select(col("user_id"), col("event_type"), col("ts_us"))
      val users = ev.select("user_id").distinct()
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts_us") > col("t1") && col("ts_us") <= col("t1") + W)
        .groupBy("user_id").agg(min("ts_us").as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("ts_us") > col("t2") && col("ts_us") <= col("t2") + W)
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      users
        .join(v.select(col("user_id"), lit(1).as("s1")), Seq("user_id"), "left_outer")
        .join(c.select(col("user_id"), lit(1).as("s2")), Seq("user_id"), "left_outer")
        .join(p.select(col("user_id"), lit(1).as("s3")), Seq("user_id"), "left_outer")
        .select((coalesce(col("s1"), lit(0)) + coalesce(col("s2"), lit(0)) +
          coalesce(col("s3"), lit(0))).cast("long").as("depth"))
        .groupBy("depth").agg(count(lit(1)).as("n_users"))
        .orderBy("depth")
    },
      // same stagewise min-time construction, relationally
      Sql("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |v AS (SELECT user_id, MIN(ts_us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts_us) AS t2 FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts_us > v.t1
        |        AND e.ts_us <= v.t1 + 86400000000 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts_us) AS t3 FROM ev e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts_us > c.t2
        |        AND e.ts_us <= c.t2 + 86400000000 GROUP BY e.user_id)
        |SELECT depth, COUNT(*) AS n_users FROM (
        |  SELECT (CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END +
        |          CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END +
        |          CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS depth
        |  FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |         LEFT JOIN p USING (user_id))
        |GROUP BY depth ORDER BY depth""".stripMargin)),
    Query("e14_cumulative_users", (s, dir) => {
      // running DISTINCT count (cumulative unique users per day) — the
      // growth-accounting query. The naive form (COUNT(DISTINCT) OVER an
      // expanding window) re-scans every prior row per day and carries the
      // full value set as window state; the scale form computed here is
      // dedup-then-cumsum: each user's FIRST day (one hash shuffle), daily
      // first-timer counts, then a cumulative sum over the tiny per-day
      // series. Same answer, O(users) state nowhere, window over days only.
      val ev = EventStreams.normalized(Tables.events(s, dir))
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      val firstDay = ev.groupBy("user_id").agg(min("day").as("day"))
      val daily = firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(col("day"), col("n_new"),
          sum("n_new").over(w).as("cum_users"))
        .orderBy("day")
    },
      // dedup-then-cumsum mirror: first day per
      // user, daily first-timer counts, running sum over the day series
      Sql("""WITH f AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS day
        |           FROM events GROUP BY user_id),
        |d AS (SELECT day, COUNT(*) AS n_new FROM f GROUP BY day)
        |SELECT day::BIGINT AS day, n_new, SUM(n_new) OVER (
        |  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_users
        |FROM d ORDER BY day""".stripMargin)),
    Query("e34_event_pattern", (s, dir) => // CEP pattern counts (the
      // MATCH_RECOGNIZE / Flink-CEP shape): greedy non-overlapping
      // view->click->purchase subsequence occurrences per user over the
      // time-ordered stream — one key-aggregate, then a codegen'd
      // automaton fold, row-local; oracle = independent sequential
      // automaton VALUES (not SQL-window-expressible: consumed-event
      // state is a fold)
      graft.operators.Sessionization.eventPatternCounts(
        EventStreams.normalized(Tables.events(s, dir))
          .select("user_id", "ts_us", "event_id", "event_type")),
      // the streaming-state fold from empty state equals the batch automaton,
      // so the batch and streaming gates share one independent mirror
      Derived(eventPatternOracle)),
    Query("e9_sessionized", (s, dir) => {
      // row-level sessionization (gaps-and-islands): every event stamped
      // with its per-user session number — the enrichment form feature
      // pipelines join on (st3 is the aggregate session_window cousin)
      val ev = EventStreams.normalized(Tables.events(s, dir))
        .select("user_id", "ts_us", "event_id")
      Sessionization.assignSessions(ev, key = "user_id", time = "ts_us",
          gapUs = 1800000000L, tieBreak = Seq("event_id"))
        .orderBy("user_id", "ts_us", "event_id")
    },
      Sql("""WITH o AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |                  CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |                         OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS opens
        |           FROM events
        |           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, ts_us, event_id,
        |       SUM(opens) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
        |FROM o ORDER BY user_id, ts_us, event_id""".stripMargin)),
    Query("p9_leakproof_split", (s, dir) => {
      // LEAKAGE-PROOF train/val/test split: near-duplicates of a training
      // doc in the eval split are silent contamination, so the split key
      // is the doc's near-dup CLUSTER (d6's keeper; singletons key on
      // themselves) — every cluster lands whole in one split by
      // construction (split = f(group key), the GroupShuffleSplit rule).
      val docs = Tables.documents(s, dir)
      val keyed = docs.select(col("doc_id").cast("long").as("doc_id"))
        .join(Dedup.nearDupClusters(docs), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("keeper"), col("doc_id")).as("gkey"))
      Sampling.assignSplits(keyed, "gkey")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("gkey")).as("n_groups"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy("split")
    },
      // the same cluster derivation, the same
      // group-keyed hash split, aggregated per split
      Sql(s"""WITH cl AS (${Dedup.nearDupClustersSql()}),
         |k AS (SELECT d.doc_id, COALESCE(cl.keeper, d.doc_id) AS gkey
         |      FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |sp AS (SELECT doc_id, gkey, ${Sampling.assignSplitsSql("gkey")} AS split FROM k)
         |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT gkey)::BIGINT AS n_groups,
         |       SUM(doc_id)::BIGINT AS sum_ids
         |FROM sp GROUP BY split ORDER BY split""".stripMargin)),
    Query("p11_maxp_retrieval", (s, dir) => // BM25-MaxP passage retrieval
      // (Dai & Callan 2019, the long-document RAG recipe): overlapping
      // token windows each BM25-scored as their own unit against
      // passage-level corpus stats, a document's score = MAX over its
      // passages — one on-topic passage surfaces a long document that
      // whole-document length normalization would bury; returns the best
      // passage id too (what a RAG pipeline actually retrieves)
      graft.llm.Retrieval.maxPassageTopK(
        Tables.documents(s, dir), Bm25QueryTerms, k = 15),
      Derived(in =>
        // chunk-level idf derived independently (own tokenizer, own sliding
        // windows, own chunk dfs); the committed passage index is
        // bit-identical to the inline operator
        graft.llm.Retrieval.maxPassageTopKSql(
          SequentialCorpus.bm25ChunkIdf(in.texts, Bm25QueryTerms), k = 15))),
    Query("p12_maxp_indexed", (s, dir) => {
      // the PERSISTED passage-level index (p11 recomputes chunk stats per
      // query; production RAG retrieves passages from a committed index): chunk-granular postings +
      // stats as commit-log tables, built half/half via build+append to
      // bind the incremental-refresh path, then queried with zero corpus
      // jobs — bit-identical to p11's inline operator, sharing its
      // independent chunk-idf oracle. Build chain memoized (template);
      // the committed probe is read-only.
      val docs = Tables.documents(s, dir)
      val idx = IndexCache.template(s"maxp|$dir|split") { p =>
        graft.llm.Retrieval.buildPassageIndex(docs.filter(col("doc_id") % 2 === 0), p)
        graft.llm.Retrieval.appendPassageIndex(docs.filter(col("doc_id") % 2 =!= 0), p)
      }
      graft.llm.Retrieval.maxPassageTopKIndexed(s, idx, Bm25QueryTerms, k = 15)
    },
      Derived(in =>
        // chunk-level idf derived independently (own tokenizer, own sliding
        // windows, own chunk dfs); the committed passage index is
        // bit-identical to the inline operator
        graft.llm.Retrieval.maxPassageTopKSql(
          SequentialCorpus.bm25ChunkIdf(in.texts, Bm25QueryTerms), k = 15))),
    Query("p13_passage_delete", (s, dir) => {
      // the passage-index DELETE lifecycle (p12's index under churn —
      // the s29 shape at chunk granularity): tombstone delete is one
      // O(deleted) commit pinned as an index version; consolidation
      // drops the docs' chunk postings and re-derives exact survivor
      // stats, making the index bit-identical to a rebuild on the
      // survivors — which IS the mirror (p11's SQL over the surviving
      // corpus, idf re-derived independently on the survivors). The
      // pre-merge Lucene stale-stats semantics is spec-pinned in
      // RetrievalSpec. Full-corpus build memoized; delete + consolidate
      // mutate → private copy per execution.
      val docs = Tables.documents(s, dir)
      val idx = IndexCache.privateCopy(s"maxp|$dir|full", "maxpdel")(
        graft.llm.Retrieval.buildPassageIndex(docs, _))
      graft.llm.Retrieval.deleteFromPassageIndex(
        docs.filter(col("doc_id") % 5 === 2).select("doc_id"), idx)
      graft.llm.Retrieval.consolidatePassageIndex(s, idx)
      graft.llm.Retrieval.maxPassageTopKIndexed(s, idx, Bm25QueryTerms, k = 15)
    },
      Derived { in =>
        // post-consolidation == a rebuild on the survivors: idf re-derived
        // independently on the surviving corpus, same independent chunker
        val idfCh = SequentialCorpus.bm25ChunkIdf(
          in.textsWhere(col("doc_id") % 5 =!= 2), Bm25QueryTerms)
        graft.llm.Retrieval.maxPassageTopKSql(idfCh, k = 15, docFilter = "doc_id % 5 <> 2")
      }),
    Query("p8_hybrid_rrf", (s, dir) => {
      // hybrid retrieval: t37's sparse BM25 list + a dense cosine list
      // fused by reciprocal-rank fusion (exact integer micro-units) —
      // the no-calibration sparse+dense merge every RAG stack ships;
      // both inputs are k-sized result lists by their own contracts
      val sparse = graft.llm.Retrieval.bm25TopK(
          Tables.documents(s, dir), Bm25QueryTerms, k = 15)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(desc("score_e6"), col("doc_id"))))
        .select("doc_id", "rank")
      val dense = Similarity.cosineTopK(Tables.embeddings(s, dir), numQueries = 1, k = 15)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.llm.Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
    },
      Derived(in =>
        // the same two ranked lists (BM25 mirror + dense cosine mirror)
        // fused with the identical integer RRF arithmetic
        s"""WITH sp AS (SELECT doc_id,
           |            row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS rank
           |            FROM (${bm25Sql(in)}) bm),
           |de AS (SELECT neighbor_id AS doc_id, rank
           |       FROM (${Similarity.cosineTopKSql(numQueries = 1, k = 15)}) cs),
           |u AS (SELECT doc_id, rank FROM sp UNION ALL SELECT doc_id, rank FROM de),
           |f AS (SELECT doc_id, SUM(1000000 // (60 + rank))::BIGINT AS rrf_e6
           |      FROM u GROUP BY doc_id)
           |SELECT doc_id, rrf_e6 FROM f ORDER BY rrf_e6 DESC, doc_id LIMIT 10""".stripMargin)),
    Query("p10_rag_indexed", (s, dir) => {
      // the PRODUCTION RAG query path end-to-end: BOTH retriever legs run
      // against PERSISTED commit-log indexes (s19's postings + s12's IVF
      // lists), so query time pays zero training jobs, zero corpus-stats
      // jobs, and no raw-corpus tokenization — then the two committed-
      // index result lists fuse by exact-integer RRF. This is the gate
      // that binds the whole persisted-index family into one user-facing
      // pipeline.
      // Both legs' builds are memoized templates (s29 clones the BM25
      // one, s12 shares the IVF one); the fused query path is read-only.
      val bmIdx = IndexCache.template(s"bm25|$dir|full")(
        graft.llm.Retrieval.buildBm25Index(Tables.documents(s, dir), _))
      val ivfIdx = IndexCache.template(s"ivf|$dir|full")(
        Similarity.buildIvfIndex(Tables.embeddings(s, dir), _))
      val sparse = graft.llm.Retrieval.bm25TopKIndexed(s, bmIdx, Bm25QueryTerms, k = 15)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(desc("score_e6"), col("doc_id"))))
        .select("doc_id", "rank")
      val dense = Similarity.ivfTopKIndexed(s, ivfIdx, numQueries = 1, k = 15)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.llm.Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
    },
      Derived(in =>
        // the fused pipeline with the dense leg mirrored by the IVF
        // pipeline (the committed index is bit-identical to ivfTopK)
        s"""WITH sp AS (SELECT doc_id,
           |            row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS rank
           |            FROM (${bm25Sql(in)}) bm),
           |de AS (SELECT neighbor_id AS doc_id, rank
           |       FROM (${Similarity.ivfTopKSql(numQueries = 1, k = 15)}) iv),
           |u AS (SELECT doc_id, rank FROM sp UNION ALL SELECT doc_id, rank FROM de),
           |f AS (SELECT doc_id, SUM(1000000 // (60 + rank))::BIGINT AS rrf_e6
           |      FROM u GROUP BY doc_id)
           |SELECT doc_id, rrf_e6 FROM f ORDER BY rrf_e6 DESC, doc_id LIMIT 10""".stripMargin)),
    Query("q36_group_by_all", (s, dir) => {
      // the GROUP BY ALL resolution rule (SQL-surface parity both engines
      // ship): every non-aggregate select item becomes a grouping key
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
          |       SUM(o_custkey) AS sum_cust
          |FROM orders_v GROUP BY ALL ORDER BY 1, 2""".stripMargin)
    },
      Sql("""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        |       SUM(o_custkey)::BIGINT AS sum_cust
        |FROM orders GROUP BY ALL ORDER BY 1, 2""".stripMargin)),
    Query("q38_variant_json", (s, dir) => {
      // the VARIANT semi-structured type (SQL:2023 / Spark 4): parse once
      // into the binary variant encoding, then TYPED path extraction —
      // the schema-on-read shape that replaces string re-parsing per
      // access; a missing path under try_variant_get is NULL, counted
      Tables.events(s, dir).createOrReplaceTempView("events_v38")
      s.sql(
        """SELECT event_type, COUNT(*) AS n,
          |       SUM(variant_get(parse_json(props), '$.k', 'bigint')) AS sum_k,
          |       SUM(CASE WHEN try_variant_get(parse_json(props), '$.missing', 'bigint')
          |                IS NULL THEN 1 ELSE 0 END) AS n_missing
          |FROM events_v38 GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      Sql("""SELECT event_type, COUNT(*) AS n,
        |       SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |       SUM(CASE WHEN json_extract(props, '$.missing') IS NULL
        |                THEN 1 ELSE 0 END)::BIGINT AS n_missing
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("q37_order_by_all", (s, dir) => {
      // ORDER BY ALL (q36's companion resolution rule, both engines):
      // sort by every select item left-to-right
      Tables.orders(s, dir).createOrReplaceTempView("orders_v37")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
          |FROM orders_v37 GROUP BY ALL ORDER BY ALL""".stripMargin)
    },
      Sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY ALL ORDER BY ALL""".stripMargin)),
    Query("p7_modality_card", (s, dir) => {
      // multimodal corpus card: the round's text and audio profiling ops
      // composed per SOURCE — span-level duplication (d17) beside audio
      // silence/energy coverage (m7), the two metadata columns a curation
      // decision actually reads together; docs under the d17 window
      // length are out of the text half by that operator's contract
      val docs = Tables.documents(s, dir)
      val src = docs.select(col("doc_id"), col("source"))
      val txt = graft.llm.Dedup.spanDedup(docs).join(src, "doc_id")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("n_dup_tokens").as("n_dup_tokens"),
          expr("sum(n_dup_tokens) * 1000 div sum(n_tokens)").as("dup_permille"))
      val aud = graft.llm.MediaOps.audioFrames(docs)
        .join(src.withColumnRenamed("doc_id", "media_id"), "media_id")
        .groupBy("source").agg(
          count(lit(1)).as("n_frames"),
          sum(when(col("silent"), 1L).otherwise(0L)).as("n_silent"),
          expr("sum(case when silent then 1 else 0 end) * 1000 div count(1)")
            .as("silent_permille"))
      txt.join(aud, "source").orderBy("source")
    },
      // the d17 and m7 mirrors composed the same way
      Sql(s"""WITH sp AS (${graft.llm.Dedup.spanDedupSql()}),
         |au AS (${graft.llm.MediaOps.audioFramesSql()}),
         |src AS (SELECT doc_id, source FROM documents),
         |t AS (SELECT source, COUNT(*)::BIGINT AS n_docs,
         |             SUM(n_tokens)::BIGINT AS n_tokens,
         |             SUM(n_dup_tokens)::BIGINT AS n_dup_tokens,
         |             (SUM(n_dup_tokens) * 1000 // SUM(n_tokens))::BIGINT AS dup_permille
         |      FROM sp JOIN src USING (doc_id) GROUP BY source),
         |a AS (SELECT source, COUNT(*)::BIGINT AS n_frames,
         |             SUM(CASE WHEN silent THEN 1 ELSE 0 END)::BIGINT AS n_silent,
         |             (SUM(CASE WHEN silent THEN 1 ELSE 0 END) * 1000 // COUNT(*))::BIGINT AS silent_permille
         |      FROM au JOIN src ON au.media_id = src.doc_id GROUP BY source)
         |SELECT source, n_docs, n_tokens, n_dup_tokens, dup_permille,
         |       n_frames, n_silent, silent_permille
         |FROM t JOIN a USING (source) ORDER BY source""".stripMargin)),
    Query("p6_r11_curation", (s, dir) => {
      // the curation loop composed as a user would: Gopher rule
      // filter -> DSIR importance weights (model fit on the FULL corpus,
      // like the published recipe) -> keep target-leaning survivors
      // (dsir > 0) -> per-source report. One declared query proving the
      // new operators compose; oracle = gopher static SQL ∘ DSIR mirror
      // VALUES, composed the same way
      val docs = Tables.documents(s, dir)
      val keep = graft.llm.TextOps.gopherQualityFlags(docs)
        .filter(col("keep") === 1).select("doc_id")
      val w = Sampling.dsirWeights(docs)
      docs.join(keep, "doc_id").join(w, "doc_id")
        .filter(col("dsir_e6") > 0)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"),
          sum("dsir_e6").as("sum_dsir_e6"))
        .orderBy("source")
    },
      Derived(in =>
        // the same composition as the Spark pipeline: gopher static SQL
        // for the keep set, the independent-mirror VALUES for the weights
        s"""WITH g AS (SELECT doc_id FROM (${graft.llm.TextOps.gopherQualityFlagsSql()}) WHERE keep = 1),
           |dw AS (${dsirValues(in)})
           |SELECT d.source, COUNT(*) AS n, SUM(d.doc_id)::BIGINT AS sum_ids,
           |       SUM(dw.w)::BIGINT AS sum_dsir_e6
           |FROM documents d JOIN g USING (doc_id) JOIN dw ON dw.d = d.doc_id
           |WHERE dw.w > 0
           |GROUP BY d.source ORDER BY d.source""".stripMargin)),
    Query("p1_curation_pipeline", (s, dir) => {
      // the operators composed as a user would: quality-filter the corpus,
      // exact-dedup among the survivors (keeper = min surviving id per
      // content hash), assign content-addressed splits, report per-split
      // stats — one declared query proving the pieces compose end-to-end
      val docs = Tables.documents(s, dir)
      val ok = TextOps.qualityBuckets(docs).filter(col("quality") === "ok").select("doc_id")
      val okDocs = docs.join(ok, "doc_id")
      val keepers = Dedup.exactDedup(okDocs)
        .filter(col("doc_id") === col("keeper")).select("doc_id")
      Sampling.assignSplits(okDocs.join(keepers, "doc_id"), keyCol = "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"), sum("n_chars").as("sum_chars"))
        .orderBy("split")
    },
      Sql(s"""WITH q AS (
         |${TextOps.qualityBucketsSql}
         |),
         |ok AS (SELECT d.doc_id, d.text, d.n_chars
         |       FROM documents d JOIN q ON q.doc_id = d.doc_id WHERE q.quality = 'ok'),
         |k AS (SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY md5(text)),
         |kept AS (SELECT ok.doc_id, ok.n_chars FROM ok JOIN k ON k.doc_id = ok.doc_id)
         |SELECT ${graft.llm.Sampling.assignSplitsSql("doc_id")} AS split,
         |       COUNT(*) AS n, SUM(doc_id)::BIGINT AS sum_ids, SUM(n_chars)::BIGINT AS sum_chars
         |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("p2_semantic_curation", (s, dir) => {
      // the embedding-side composition (p1's cousin): semantic-dedup the
      // vector corpus (d9 keepers), then per-label survivor stats — the
      // SemDeDup curation loop end-to-end through the operator APIs
      val emb = Tables.embeddings(s, dir)
      val drops = Similarity.semanticDupClusters(emb)
        .filter(col("vec_id") =!= col("keeper")).select("vec_id")
      emb.join(drops, Seq("vec_id"), "left_anti")
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"), sum("vec_id").as("sum_ids"))
        .orderBy("label")
    },
      // the d9 clusters query nested as a derived
      // table; survivors = vectors that are not a non-keeper cluster member
      Sql(s"""SELECT e.label::BIGINT AS label, COUNT(*) AS n, SUM(e.vec_id)::BIGINT AS sum_ids
         |FROM embeddings e
         |WHERE NOT EXISTS (SELECT 1 FROM (
         |${Similarity.semanticDupClustersSql()}
         |) c WHERE c.vec_id = e.vec_id AND c.keeper <> c.vec_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin)))

  /** Catalog root holding the `sqlg` graph the SQL-TVF gates (q33, q39,
    * q40, q41) query through `spark.sql` — idempotent per process. */
  private def sqlTvfGraph(s: SparkSession, dir: String): String = {
    val root = IndexCache.keptRoot("sqltvf")
    val cat = new GraphCatalog(s, root.resolve("graphs").toString)
    val e = DerivedGraphs.small(s, dir)
    if (cat.exists("sqlg")) cat.modifyGraph("sqlg", e) else cat.addGraph("sqlg", e)
    root.resolve("graphs").toString
  }
}
