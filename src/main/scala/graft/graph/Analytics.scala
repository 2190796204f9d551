package graft.graph

import org.apache.spark.graphx.{Edge, EdgeDirection, Graph => XGraph, Pregel, TripletFields, VertexId, VertexRDD}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Num

/** Graph analytics beyond the reference's BFS/DFS surface (SURVEY §2.3):
  * degree stats, connected components, PageRank, triangle counting.
  *
  * The reference has no analytics beyond traversal (its whole compute surface
  * is `secondaryServer.c:56-179`); these are the natural extensions on the
  * same edge-list model, per the project north star (GraphX + Pregel).
  *
  * Implementation split:
  *  - connectedComponents / SCC / topoLayers / greedyColoring: GraphX
  *    built-ins and Pregel (the level-synchronous structure the reference
  *    hand-rolls with threads at `secondaryServer.c:150-161`), each one
  *    [[GraphLoop.run]] over a graph [[GraphLoop.place]]d once.
  *  - the converged fixpoints (pageRankConverged, katzConverged, coreness,
  *    louvainSweep / louvain): GraphX vertex-program loops over a placed
  *    graph — each round is one `aggregateMessages` plus one vertex join,
  *    run as one Spark job with no per-round query planning, its state cut
  *    by [[GraphLoop.cut]].
  *  - degrees / triangles / fixed-iteration pageRank and the one-pass
  *    operators: plain DataFrame plans — joins/aggs, so Catalyst + AQE
  *    (broadcast, skew splitting) serve better than RDDs, and the semantics
  *    are exactly SQL-expressible for the DuckDB oracle.
  */
object Analytics {

  /** Distinct vertex ids appearing as src or dst: `(vertex BIGINT)`. */
  def vertices(edges: DataFrame): DataFrame = {
    val s = edges.select(col("src").cast("long").as("vertex"))
    val d = edges.select(col("dst").cast("long").as("vertex"))
    s.union(d).distinct()
  }

  /** Per-vertex in/out degree: `(vertex BIGINT, out_degree BIGINT,
    * in_degree BIGINT)`. One shuffle per side + one join; vertices with no in
    * (resp. out) edges get 0, matching the SQL oracle's FULL OUTER + COALESCE
    * shape.
    *
    * @param dedup count distinct edges (extra shuffle); pass false when the
    *              input is already duplicate-free (e.g. DerivedGraphs output).
    */
  def degrees(edges: DataFrame, dedup: Boolean = true): DataFrame = {
    val cast = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val e = if (dedup) cast.distinct() else cast
    val out = e.groupBy(col("src").as("vertex")).agg(count(lit(1)).as("out_degree"))
    val in = e.groupBy(col("dst").as("vertex")).agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("vertex"), "full_outer")
      .select(
        col("vertex"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** Connected components over the underlying undirected graph.
    * Returns `(vertex BIGINT, component BIGINT)` where component = min vertex
    * id in the component (GraphX's labeling, which is also what the DuckDB
    * reachability-closure oracle computes). GraphX CC propagates labels in
    * both edge directions, i.e. treats the graph as undirected.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    GraphLoop.run(GraphLoop.place(GraphLoop.edges(edges), ()))(_.connectedComponents())(
      _.vertices.toDF("vertex", "component"))
  }

  /** Strongly connected components of the DIRECTED graph: `(vertex BIGINT,
    * component BIGINT)` with component = min vertex id in the SCC (the
    * GraphX labeling — also what the mutual-reachability oracle computes).
    * Runs GraphX's SCC (iterative peeling: each round trims final vertices
    * and colors one layer of SCCs via forward/backward Pregel fixpoints) to
    * convergence.
    *
    * Scale shape: same Pregel residency argument as BFS — the edge relation
    * partitions once; each peeling round exchanges vertex-sized color
    * messages only.
    */
  def stronglyConnectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    GraphLoop.run(GraphLoop.place(GraphLoop.edges(edges), ()))(
      _.stronglyConnectedComponents(Int.MaxValue))(
      _.vertices.toDF("vertex", "component").orderBy("vertex"))
  }

  /** Static PageRank, `numIter` fixed iterations, damping 0.85:
    * `(vertex BIGINT, pr DOUBLE)` with pr rounded to 1e-6 so the fixed-point
    * DuckDB oracle ([[pageRankSql]]) hash-matches despite double-summation
    * order (accumulated fp error after 10 iterations is ~1e-13, far below the
    * rounding grain).
    *
    * Exact semantics (mirrored verbatim by the oracle):
    *   r_0(v) = 1.0 for every vertex;
    *   r_{t+1}(v) = 0.15 + 0.85 * Σ_{u→v} r_t(u) / outdeg(u)
    * over the distinct edge set; dangling-vertex mass is dropped (the GraphX
    * convention).
    *
    * Scale shape: edges are deduped, pre-partitioned by `src` and persisted
    * once; each iteration joins the (vertex-sized) rank table against that
    * fixed partitioning — only ranks shuffle per iteration, never the edge
    * relation. `localCheckpoint` truncates the iterative-join lineage.
    */
  def pageRank(edges: DataFrame, numIter: Int = 10): DataFrame =
    prLoop(edges, numIter, init = lit(1.0), base = lit(0.15))

  /** Personalized PageRank: the restart mass returns to `source` instead of
    * spreading uniformly — rank becomes proximity TO the source (the
    * recommendation / local-relevance form of g7). Same fixed-iteration
    * deterministic contract as [[pageRank]], so the oracle is the same
    * unrolled-CTE mirror with the source-restart base.
    */
  def personalizedPageRank(edges: DataFrame, source: Long, numIter: Int = 10): DataFrame =
    prLoop(edges, numIter,
      init = when(col("vertex") === source, lit(1.0)).otherwise(lit(0.0)),
      base = when(col("vertex") === source, lit(0.15)).otherwise(lit(0.0)))

  /** Edge-weighted PageRank: the damped walk follows each out-edge with
    * probability PROPORTIONAL TO ITS WEIGHT (`w_e / Σ_out w`) instead of
    * uniformly — the link-analysis form for interaction graphs where edge
    * multiplicity/strength matters (co-purchase counts, message volume).
    * `weightCol` must be an INTEGRAL column on `edges` (enforced): integer
    * weights make the per-vertex weight total exact, so both engines
    * divide identical integers and the transition matrix is bit-identical
    * — a float weight total would differ in final ulps by sum order.
    * Weights must be POSITIVE (row-wise enforced — a zero out-weight total
    * would silently NULL the division and corrupt ranks); parallel
    * `(src, dst)` edges carrying DISTINCT weights are collapsed by summing
    * them (multigraph semantics: two links of strength 2 and 3 behave as
    * one of strength 5), while exact duplicate rows still count once.
    * Same fixed-iteration deterministic contract, same plan shape
    * (weights fold into the precomputed per-edge contribution).
    */
  def weightedPageRank(edges: DataFrame, weightCol: String, numIter: Int = 10): DataFrame = {
    edges.schema(weightCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case dt => throw new IllegalArgumentException(
        s"weightedPageRank weight column '$weightCol' must be integral, got $dt — " +
          "scale to integer units first so the transition matrix is engine-exact")
    }
    prLoop(edges, numIter, init = lit(1.0), base = lit(0.15), weightCol = Some(weightCol))
  }

  /** DELTA-CONVERGED PageRank — the production stopping rule ([[pageRank]]
    * runs a fixed iteration count; real deployments iterate until the
    * ranks stop moving): power iteration with per-round convergence
    * detection, stopping when `max_v |pr'(v) − pr(v)| · 1e6 ≤ tolE6` or at
    * `maxIter`. Returns `(vertex, pr_e6, n_iter)` — rank in exact integer
    * micro-units plus the (data-dependent) iteration count, which the
    * oracle must therefore DERIVE, not assume: the mirror is an
    * independent sequential power iteration applying the identical rule.
    * No edges → zero rows.
    *
    * Exactness contract (what makes a data-dependent STOPPING DECISION
    * safe across engines): per-edge contributions quantize to integer
    * nanos BEFORE the inbound sum (order-free exact longs — the s9/k-means
    * discipline), each round's ranks re-quantize to the 1e-6 grid, and the
    * delta test compares grid values in integer micro-units — so both
    * engines iterate from EXACTLY equal state and stop on the same round
    * by construction, never by last-ulp luck. Rounding is Spark's `round`
    * ([[Num.halfUp]], [[Num.grid6]]).
    *
    * Scale shape: [[convergedPower]] — the deduped edge relation is
    * partitioned once; per round one `aggregateMessages` (vertex-sized
    * traffic) and one vertex join, in one Spark job whose only result is
    * the round's max micro-delta, a single long.
    */
  def pageRankConverged(edges: DataFrame, tolE6: Long = 100L, maxIter: Int = 60): DataFrame = {
    require(tolE6 >= 1, s"pageRankConverged: tolE6 must be >= 1, got $tolE6")
    require(maxIter >= 1, s"pageRankConverged: maxIter must be >= 1, got $maxIter")
    convergedPower(edges, tolE6, maxIter, "pr_e6", outDeg => 1.0 / outDeg,
      mNano => Num.grid6(0.15 + 0.85 * (mNano / 1e9)))
  }

  /** Katz centrality, delta-converged — the attenuation-based centrality
    * that counts ALL inbound walks damped by length (`x = Σ_k α^k (Aᵀ)^k 1`,
    * via the fixpoint `x' = 1 + α·Aᵀx`), completing the centrality family
    * (degree/closeness/harmonic/betweenness/PageRank) with the classic
    * eigenvector-style member that, unlike PageRank, does NOT normalize by
    * out-degree — a hub passes its full influence down every edge.
    * `alphaE3` is the attenuation in thousandths (must keep `α < 1/λ_max`
    * for convergence; the `maxIter` cap bounds a divergent choice loudly
    * rather than looping forever — `n_iter = maxIter` in the output IS the
    * non-convergence signal). Same engine-exactness contract and loop as
    * [[pageRankConverged]]: per-edge contributions quantize to integer
    * nanos pre-sum, scores re-quantize to the 1e-6 grid per round, stop on
    * an integer micro-delta — the mirror stops on the identical round.
    * Returns `(vertex, katz_e6, n_iter)`; no edges → zero rows.
    */
  def katzConverged(edges: DataFrame, alphaE3: Long = 50L, tolE6: Long = 100L,
                    maxIter: Int = 60): DataFrame = {
    require(alphaE3 >= 1 && alphaE3 < 1000, s"katzConverged: alphaE3 must be in [1, 999], got $alphaE3")
    require(tolE6 >= 1, s"katzConverged: tolE6 must be >= 1, got $tolE6")
    require(maxIter >= 1, s"katzConverged: maxIter must be >= 1, got $maxIter")
    val alpha = alphaE3 / 1000.0
    convergedPower(edges, tolE6, maxIter, "katz_e6", _ => alpha,
      mNano => Num.grid6(1.0 + mNano / 1e9))
  }

  /** The converged power iteration shared by [[pageRankConverged]] and
    * [[katzConverged]] over the distinct directed edges (self-loops kept):
    * x_0 = 1; per round every edge sends `halfUp(x(src) · w · 1e9)` nanos
    * with `w = weight(outdeg(src))`, and `x'(v) = step(Σ nanos into v)`;
    * stop once the max integer micro-delta is `≤ tolE6` or after
    * `maxIter` rounds. Returns `(vertex, valueCol, n_iter)` sorted.
    */
  private def convergedPower(edges: DataFrame, tolE6: Long, maxIter: Int, valueCol: String,
                             weight: Int => Double, step: Long => Double): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // one shuffle dedups the pairs and counts each source's out-degree
    val weighted = GraphLoop.longPairs(edges).groupByKey().flatMap { case (s, ds) =>
      val out = ds.toSet
      val w = weight(out.size)
      out.iterator.map(d => Edge(s, d, w))
    }
    val g = GraphLoop.place(weighted, 1.0)
    try {
      var x = GraphLoop.cut(g.vertices)
      var iters = 0
      var deltaE6 = Long.MaxValue
      while (iters < maxIter && deltaE6 > tolE6) {
        val prev = x
        val inbound = GraphLoop.on(g, prev).aggregateMessages[Long](
          t => t.sendToDst(Num.halfUp(t.srcAttr * t.attr * 1e9)), _ + _, TripletFields.Src)
        x = GraphLoop.cut(prev.leftJoin(inbound)((_, _, m) => step(m.getOrElse(0L))))
        deltaE6 = x.innerZipJoin(prev)((_, a, b) => math.abs(Num.halfUp((a - b) * 1e6)))
          .values.fold(0L)(_ max _) // the round's one job; 0 on an empty graph
        iters += 1
      }
      val n = iters.toLong
      x.map { case (v, a) => (v, Num.halfUp(a * 1e6), n) }.toDF("vertex", valueCol, "n_iter")
        .orderBy("vertex")
    } finally GraphLoop.release(g)
  }

  /** Shared power-iteration loop: rank' = base + 0.85 · Σ inbound rank·w,
    * with per-edge contribution w = weight / Σ_out weight (uniform 1/deg
    * when no weight column). Edges deduped — in the weighted branch the
    * distinct (src, dst, ew) triples are then summed per (src, dst), so the
    * weight relation is functional in the pair and the docstring's
    * "deduped" holds for multigraphs too; non-positive or null weights fail
    * loudly row-wise. Repartitioned by src once and persisted — each
    * iteration shuffles only the vertex-sized rank table; `localCheckpoint`
    * truncates the iterative lineage.
    */
  private def prLoop(edges: DataFrame, numIter: Int, init: Column, base: Column,
                     weightCol: Option[String] = None): DataFrame = {
    val distinctRows = edges.select(
        Seq(col("src").cast("long").as("src"), col("dst").cast("long").as("dst")) ++
          weightCol.map(c => col(c).cast("long").as("ew")): _*)
      .distinct()
    val e = (weightCol match {
        case None => distinctRows
        case Some(c) => distinctRows
          .withColumn("ew",
            when(col("ew") > 0, col("ew")).otherwise(raise_error(format_string(
              s"weightedPageRank: weight '$c' must be positive, got %s on edge (%s, %s)",
              col("ew"), col("src"), col("dst")))))
          .groupBy("src", "dst").agg(sum(col("ew")).as("ew"))
      })
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val v = vertices(e.select("src", "dst")).localCheckpoint(true)
      // contribution weight per edge is rank-independent: precompute it.
      // Both branches divide exact integers (count / integral-weight sum),
      // so the transition matrix is identical on every engine.
      val weighted = (weightCol match {
        case None =>
          val outdeg = e.groupBy("src").agg(count(lit(1)).as("d"))
          e.join(outdeg, "src").select(col("src"), col("dst"), (lit(1.0) / col("d")).as("w"))
        case Some(_) =>
          val outw = e.groupBy("src").agg(sum(col("ew")).as("d"))
          e.join(outw, "src")
            .select(col("src"), col("dst"),
              (col("ew").cast("double") / col("d").cast("double")).as("w"))
      })
        .repartition(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        var ranks = v.withColumn("pr", init).localCheckpoint(true)
        for (_ <- 1 to numIter) {
          val inbound = weighted.join(ranks, weighted("src") === ranks("vertex"))
            .groupBy(col("dst").as("vertex"))
            .agg(sum(col("pr") * col("w")).as("m"))
          ranks = v.join(inbound, Seq("vertex"), "left_outer")
            .select(col("vertex"), (base + lit(0.85) * coalesce(col("m"), lit(0.0))).as("pr"))
            .localCheckpoint(true)
        }
        ranks.select(col("vertex"), Num.round6(col("pr")).as("pr")).orderBy("vertex")
      } finally weighted.unpersist(blocking = false)
    } finally e.unpersist(blocking = false)
  }

  /** DuckDB oracle for [[pageRank]]: the same fixed-iteration recurrence
    * unrolled as chained CTEs (recursive CTEs can't aggregate in the
    * recursive term), rounded to the same 1e-6 grain.
    */
  def pageRankSql(edgeSql: String, numIter: Int = 10): String =
    prLoopSql(edgeSql, numIter, initSql = "CAST(1.0 AS DOUBLE)", baseSql = "0.15")

  /** DuckDB oracle for [[personalizedPageRank]]: same unrolled CTEs with
    * the source-restart init/base.
    */
  def personalizedPageRankSql(edgeSql: String, source: Long, numIter: Int = 10): String =
    prLoopSql(edgeSql, numIter,
      initSql = s"CAST(CASE WHEN vertex = $source THEN 1.0 ELSE 0.0 END AS DOUBLE)",
      baseSql = s"CASE WHEN v.vertex = $source THEN 0.15 ELSE 0.0 END")

  /** DuckDB oracle for [[weightedPageRank]]: same unrolled CTEs with the
    * weight-proportional transition matrix; `weightSql` is an integral
    * expression over (src, dst).
    */
  def weightedPageRankSql(edgeSql: String, weightSql: String, numIter: Int = 10): String =
    prLoopSql(edgeSql, numIter, initSql = "CAST(1.0 AS DOUBLE)", baseSql = "0.15",
      weightSql = Some(weightSql))

  private def prLoopSql(edgeSql: String, numIter: Int, initSql: String, baseSql: String,
                        weightSql: Option[String] = None): String = {
    val b = new StringBuilder
    weightSql match {
      case None =>
        b ++= s"WITH e AS (SELECT DISTINCT src, dst FROM ($edgeSql) t),\n"
        b ++= "v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),\n"
        b ++= "w AS (SELECT src, dst, 1.0 / COUNT(*) OVER (PARTITION BY src) AS w FROM e),\n"
      case Some(we) =>
        b ++= s"WITH e AS (SELECT src, dst, SUM(ew) AS ew FROM " +
          s"(SELECT DISTINCT src, dst, ($we)::BIGINT AS ew FROM ($edgeSql) t) GROUP BY src, dst),\n"
        b ++= "v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),\n"
        b ++= "w AS (SELECT src, dst, ew::DOUBLE / (SUM(ew) OVER (PARTITION BY src))::DOUBLE AS w FROM e),\n"
    }
    b ++= s"r0 AS (SELECT vertex, $initSql AS pr FROM v)"
    for (i <- 1 to numIter) {
      b ++= s",\nr$i AS (SELECT v.vertex, $baseSql + 0.85 * COALESCE(s.m, 0) AS pr FROM v " +
        s"LEFT JOIN (SELECT w.dst AS vertex, SUM(r.pr * w.w) AS m FROM w " +
        s"JOIN r${i - 1} r ON r.vertex = w.src GROUP BY w.dst) s ON s.vertex = v.vertex)"
    }
    b ++= s"\nSELECT vertex, ROUND(pr, 6) + 0.0 AS pr FROM r$numIter ORDER BY vertex"
    b.toString
  }

  /** HITS hubs & authorities, `numIter` fixed iterations with L1
    * normalization: `(vertex BIGINT, auth DOUBLE, hub DOUBLE)` rounded to
    * 1e-6 (same fp-error-below-rounding-grain contract as [[pageRank]]).
    *
    * Exact semantics (mirrored verbatim by [[hitsSql]]), the classic
    * Kleinberg sequential update over the distinct edge set:
    *   auth_{t}(v) = Σ_{u→v} hub_{t-1}(u), then auth_t /= Σ_v auth_t(v);
    *   hub_{t}(v)  = Σ_{v→w} auth_t(w),   then hub_t  /= Σ_v hub_t(v);
    * from auth_0 = hub_0 = 1. Vertices with no in-edges (resp. out-edges)
    * carry auth (hub) 0.
    *
    * Scale shape: the edge relation is persisted TWICE, partitioned by src
    * and by dst — the auth step joins hubs on src, the hub step joins auths
    * on dst, and paying each partitioning once up front beats re-shuffling
    * the (corpus-sized) edge set every iteration; per iteration only the
    * vertex-sized score tables shuffle. The L1 total is a 1-row broadcast.
    * `localCheckpoint` truncates the iterative lineage.
    */
  def hits(edges: DataFrame, numIter: Int = 5): DataFrame = {
    require(numIter >= 1, s"hits needs numIter >= 1, got $numIter")
    val e0 = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
    val eBySrc = e0.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val eByDst = e0.repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val v = vertices(eBySrc).localCheckpoint(true)
      var hubs = v.withColumn("hub", lit(1.0)).localCheckpoint(true)
      var auths = v.withColumn("auth", lit(1.0))
      for (_ <- 1 to numIter) {
        val aRaw = v.join(
            eBySrc.join(hubs, eBySrc("src") === hubs("vertex"))
              .groupBy(eBySrc("dst").as("vertex")).agg(sum(col("hub")).as("m")),
            Seq("vertex"), "left_outer")
          .select(col("vertex"), coalesce(col("m"), lit(0.0)).as("m"))
        auths = aRaw.crossJoin(broadcast(aRaw.agg(sum("m").as("t"))))
          .select(col("vertex"), (col("m") / col("t")).as("auth"))
          .localCheckpoint(true)
        val hRaw = v.join(
            eByDst.join(auths, eByDst("dst") === auths("vertex"))
              .groupBy(eByDst("src").as("vertex")).agg(sum(col("auth")).as("m")),
            Seq("vertex"), "left_outer")
          .select(col("vertex"), coalesce(col("m"), lit(0.0)).as("m"))
        hubs = hRaw.crossJoin(broadcast(hRaw.agg(sum("m").as("t"))))
          .select(col("vertex"), (col("m") / col("t")).as("hub"))
          .localCheckpoint(true)
      }
      auths.join(hubs, "vertex")
        .select(col("vertex"), Num.round6(col("auth")).as("auth"), Num.round6(col("hub")).as("hub"))
        .orderBy("vertex")
    } finally {
      eBySrc.unpersist(blocking = false)
      eByDst.unpersist(blocking = false)
    }
  }

  /** DuckDB oracle for [[hits]]: the same fixed-iteration sequential update
    * unrolled as chained CTEs, rounded to the same 1e-6 grain. The L1
    * normalizer is `SUM(m) OVER ()`, not a scalar subquery — a scalar
    * subquery would reference each per-iteration CTE twice, and DuckDB
    * inlines CTEs, so the unrolled plan would blow up exponentially in
    * `numIter`; the window form keeps every CTE referenced exactly once.
    */
  def hitsSql(edgeSql: String, numIter: Int = 5): String = {
    require(numIter >= 1, s"hitsSql needs numIter >= 1, got $numIter")
    val b = new StringBuilder
    b ++= s"WITH e AS (SELECT DISTINCT src, dst FROM ($edgeSql) t),\n"
    b ++= "v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),\n"
    b ++= "h0 AS (SELECT vertex, CAST(1.0 AS DOUBLE) AS hub FROM v)"
    for (i <- 1 to numIter) {
      b ++= s",\na$i AS (SELECT v.vertex, COALESCE(x.m, 0) / SUM(COALESCE(x.m, 0)) OVER () AS auth FROM v " +
        s"LEFT JOIN (SELECT e.dst AS vertex, SUM(h.hub) AS m FROM e " +
        s"JOIN h${i - 1} h ON h.vertex = e.src GROUP BY e.dst) x ON x.vertex = v.vertex)"
      b ++= s",\nh$i AS (SELECT v.vertex, COALESCE(x.m, 0) / SUM(COALESCE(x.m, 0)) OVER () AS hub FROM v " +
        s"LEFT JOIN (SELECT e.src AS vertex, SUM(a.auth) AS m FROM e " +
        s"JOIN a$i a ON a.vertex = e.dst GROUP BY e.src) x ON x.vertex = v.vertex)"
    }
    b ++= s"\nSELECT a.vertex, ROUND(a.auth, 6) + 0.0 AS auth, ROUND(h.hub, 6) + 0.0 AS hub " +
      s"FROM a$numIter a JOIN h$numIter h ON h.vertex = a.vertex ORDER BY a.vertex"
    b.toString
  }

  /** Per-vertex triangle count over the underlying undirected simple graph
    * (self-loops dropped, edges canonicalized to a<b, deduped):
    * `(vertex BIGINT, triangles BIGINT)`; only vertices in ≥1 triangle appear.
    *
    * Degree-oriented wedge enumeration: every undirected edge is oriented
    * from its lower-(degree, id) endpoint to its higher one, wedges are built
    * only at each edge's low endpoint, and the closing edge is looked up in
    * the same orientation. Each triangle is found exactly once, and the wedge
    * count per vertex is bounded by its *oriented* out-degree (≤ O(√m) on any
    * graph) — a high-degree hub no longer makes the join quadratic in its
    * degree, which is the standard skew-killer at 100 TB.
    */
  /** k-core: the maximal subgraph of the UNDIRECTED graph (self-loops
    * dropped, edges deduped) in which every vertex keeps degree ≥ k.
    * Returns `(vertex BIGINT, core_degree BIGINT)` — the surviving vertices
    * with their within-core degree.
    *
    * Wave peeling: each round computes degrees (one shuffle), drops every
    * vertex below k at once (two semi joins), and repeats until no edge is
    * removed — a deletion fixpoint, which is why there is no SQL/recursive-
    * CTE oracle (a CTE can only accumulate rows); the driver gate uses a
    * `VALUES` literal from [[SequentialModel.kCore]]'s independent
    * queue-based peeling instead, the g8/g9 discipline.
    *
    * Scale: rounds = peeling depth (typically ≪ |V|, each wave removes
    * every sub-k vertex simultaneously); per round one agg + two semi
    * joins on the shrinking edge set, checkpointed so lineage and the
    * fixpoint `count()` stay O(round). Same shape as iterative CC.
    */
  def kCore(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    // symmetric orientation: one row per (endpoint, neighbor), so degree
    // is a plain count per endpoint and both semi joins hit column "a"/"b"
    var sym = und.union(und.select(col("b"), col("a")).toDF("a", "b"))
      .localCheckpoint(true)
    var nEdges = sym.count()
    var converged = nEdges == 0
    while (!converged) {
      val keep = sym.groupBy("a").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("a")
      val pruned = sym
        .join(keep, Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint(true)
      val m = pruned.count()
      converged = m == nEdges
      sym = pruned
      nEdges = m
    }
    sym.groupBy("a").agg(count(lit(1)).as("core_degree"))
      .select(col("a").as("vertex"), col("core_degree"))
      .orderBy("vertex")
  }

  /** Topological layering of a DAG: `layer(v)` = length of the LONGEST
    * directed path ending at `v` (sources = 0) — the critical-path
    * schedule depth of a dependency graph (build systems, lineage DAGs,
    * pipeline stages): everything in layer L can run once layers < L are
    * done, and `max(layer)` is the critical-path length. `(vertex, layer)`.
    *
    * Pregel max-DP fixpoint (the [[greedyColoring]] substrate argument:
    * the round count is the DAG DEPTH — ~50 on the gate graph — and a
    * DataFrame loop pays plan/checkpoint/convergence-job overhead per
    * materialized round, while the layer relation each step consumes is
    * referenced twice, so chaining k steps per materialization grows the
    * plan TREE 2^k-fold; Pregel pays one message exchange per superstep
    * over RDDs with no Catalyst replanning and detects quiescence for
    * free). Per superstep each vertex raises its layer to
    * `1 + max(layer(pred))` and re-announces only when it rose —
    * converges in `depth` supersteps on a DAG, messages are
    * vertex-sized, edges placed once ([[GraphLoop.place]], the BFS
    * residency story).
    *
    * The input must BE a DAG — acyclicity is the caller's contract (at
    * scale verifying it is its own computation); on a cycle the
    * recurrence would climb forever, so Pregel is capped at `maxRounds`
    * supersteps and a one-pass post-run fixpoint
    * check — any edge still able to raise its head — FAILS LOUDLY
    * instead of returning a silently-truncated layering. Not
    * CTE-expressible without enumerating every path (exponential); the
    * gate uses a VALUES oracle from [[SequentialModel.topoLayers]], the
    * g8/g14 discipline.
    */
  def topoLayers(edges: DataFrame, maxRounds: Int = 800): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    GraphLoop.run(GraphLoop.place(GraphLoop.edges(e), 0L))(g =>
      Pregel(g, 0L, maxIterations = maxRounds, activeDirection = EdgeDirection.Out)(
        vprog = (_, layer, msg) => math.max(layer, msg),
        sendMsg = t =>
          if (t.srcAttr + 1L > t.dstAttr) Iterator((t.dstId, t.srcAttr + 1L))
          else Iterator.empty,
        mergeMsg = math.max)) { res =>
      // loud cycle detection: at the true fixpoint no edge can raise its
      // head; if the superstep cap stopped a still-climbing recurrence the
      // input had a cycle (or the cap was absurdly small for its depth)
      val unstable = res.triplets.filter(t => t.srcAttr + 1L > t.dstAttr).count()
      require(unstable == 0L,
        s"topoLayers did not converge in $maxRounds supersteps ($unstable edges still " +
          "raising) — the input graph almost certainly has a cycle")
      res.vertices.toDF("vertex", "layer")
    }.orderBy("vertex")
  }

  /** k-truss (k ≥ 3): the maximal subgraph in which every EDGE closes at
    * least `k−2` triangles within the subgraph — the edge-strength
    * refinement of [[kCore]]'s vertex-degree peeling (a k-truss is always
    * inside the (k−1)-core, but prunes "bridge" edges whose endpoints are
    * individually well-connected while the edge itself spans communities;
    * Cohen 2008, the standard community-core definition). Output one row
    * per surviving edge: `(a, b, support)`, a < b, support = its triangle
    * count within the truss.
    *
    * Deletion fixpoint like [[kCore]]: each wave recomputes per-edge
    * triangle support on the SURVIVING edge set via the same
    * degree-oriented wedge enumeration as [[triangleCounts]] (each
    * triangle found exactly once from its lowest-rank vertex, wedge cost
    * Σ deg_oriented² — the orientation caps oriented out-degree at O(√m),
    * which is what makes triangle work feasible at scale), drops every
    * edge below `k−2`, and repeats until no edge falls. Convergence is
    * checked by edge count; at the fixpoint the last wave's supports ARE
    * the in-truss supports, so no extra pass is needed.
    *
    * Like kCore this is fundamentally iterative — no recursive-CTE oracle
    * (a CTE only accumulates rows, it cannot delete); the gate uses a
    * `VALUES` literal from [[SequentialModel.kTruss]]'s independent
    * sequential peeling, the g8/g14 discipline.
    *
    * Scale: rounds = peeling depth; per round one degree aggregate, the
    * oriented wedge join, a 3×-triangle edge-support aggregate and a semi
    * join — all key-partitioned exchanges on the shrinking edge relation,
    * checkpointed per wave so lineage and the fixpoint `count()` stay
    * O(round).
    */
  def kTruss(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    var und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
      .localCheckpoint(true)
    var nEdges = und.count()
    var supported = und.withColumn("support", lit(0L)) // empty-graph shape
    var converged = nEdges == 0
    while (!converged) {
      val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val lowFirst = struct(col("da.deg"), col("a")) < struct(col("db.deg"), col("b"))
      val oriented = und
        .join(deg.as("da"), col("a") === col("da.v"))
        .join(deg.as("db"), col("b") === col("db.v"))
        .select(
          when(lowFirst, col("a")).otherwise(col("b")).as("u"),
          when(lowFirst, col("b")).otherwise(col("a")).as("w"),
          when(lowFirst, col("db.deg")).otherwise(col("da.deg")).as("wdeg"))
      val tri = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.u") === col("e2.u") &&
            struct(col("e1.wdeg"), col("e1.w")) < struct(col("e2.wdeg"), col("e2.w")))
        .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
        .join(oriented.as("e3"), col("y") === col("e3.u") && col("z") === col("e3.w"), "left_semi")
      val perEdge = tri.select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .union(tri.select(least(col("x"), col("z")).as("a"), greatest(col("x"), col("z")).as("b")))
        .union(tri.select(least(col("y"), col("z")).as("a"), greatest(col("y"), col("z")).as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
      supported = und.join(perEdge, Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
        .localCheckpoint(true)
      val keep = supported.filter(col("support") >= k - 2).select("a", "b").localCheckpoint(true)
      val m = keep.count()
      converged = m == nEdges
      und = keep
      nEdges = m
    }
    supported.filter(col("support") >= k - 2).orderBy("a", "b")
  }

  /** Synchronous label propagation (community detection), `numIter` rounds:
    * every vertex starts labeled with its own id; each round it adopts the
    * most frequent label among its undirected neighbors, ties broken by the
    * SMALLEST label (GraphX's built-in breaks ties by hash-map iteration
    * order — not reproducible, so we define the deterministic variant and
    * oracle-check it). `(vertex, label)` after the final round.
    *
    * Fixed iteration count, not convergence: synchronous LPA can oscillate
    * between two labelings, so "run k rounds" IS the operator's semantics —
    * the same contract PageRank's fixed-iteration form uses, and what makes
    * the sequential mirror an exact oracle.
    *
    * Scale: per round one join of the label table into the symmetric edge
    * list (shuffle on vertex id), a (vertex, label) count aggregate and an
    * argmax window per vertex — all key-partitioned, no driver state; the
    * label table is checkpointed per round to keep lineage flat.
    */
  def labelPropagation(edges: DataFrame, numIter: Int = 5): DataFrame = {
    require(numIter >= 0, s"numIter must be >= 0, got $numIter")
    val und0 = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val sym = und0.union(und0.select(col("b"), col("a")).toDF("a", "b"))
      .localCheckpoint(true)
    val verts = sym.select(col("a").as("vertex")).distinct()
    var labels = verts.withColumn("label", col("vertex")).localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(col("n").desc, col("label").asc)
    for (_ <- 1 to numIter) {
      labels = sym
        .join(labels.withColumnRenamed("vertex", "b"), "b")
        .groupBy("a", "label").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("a").as("vertex"), col("label"))
        .localCheckpoint(true)
    }
    labels.orderBy("vertex")
  }

  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient a—b from the lexicographically lower (deg, id) endpoint; carry
    // the head's (deg, id) so wedges can be canonicalized without re-joining
    val lowFirst = struct(col("da.deg"), col("a")) < struct(col("db.deg"), col("b"))
    val oriented = und
      .join(deg.as("da"), col("a") === col("da.v"))
      .join(deg.as("db"), col("b") === col("db.v"))
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("w"),
        when(lowFirst, col("db.deg")).otherwise(col("da.deg")).as("wdeg"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          struct(col("e1.wdeg"), col("e1.w")) < struct(col("e2.wdeg"), col("e2.w")))
      .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
      // rank(y) < rank(z), so the closing edge — if present — is oriented y→z
      .join(oriented.as("e3"), col("y") === col("e3.u") && col("z") === col("e3.w"), "left_semi")
    tri.select(col("x").as("vertex"))
      .union(tri.select(col("y").as("vertex")))
      .union(tri.select(col("z").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).as("triangles"))
      .orderBy("vertex")
  }

  /** Per-vertex local clustering profile over the simple undirected graph:
    * `(vertex, deg, n_tri, coeff_1e6)` for vertices with `deg ≥ 2`, where
    * `coeff_1e6 = (2·n_tri·10^6) div (deg·(deg−1))` — the local clustering
    * coefficient in integer millionths via PURE integer division (tri and
    * deg are counts), so the compare is exact on both engines. Composes
    * [[triangleCounts]] (degree-oriented enumeration — its Σ deg² bound is
    * the cost) with the same undirected degree relation; the final join is
    * vertex-sized on both sides.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(triangleCounts(edges), col("v") === col("vertex"), "left")
      .select(col("v").as("vertex"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("n_tri"),
        expr("(2 * coalesce(triangles, 0) * 1000000) div (deg * (deg - 1))")
          .as("coeff_1e6"))
      .orderBy("vertex")
  }

  /** DuckDB mirror — g5's triangle derivation + the undirected degrees,
    * same integer-millionths division.
    */
  def clusteringCoefficientSql(edgeSql: String): String =
    s"""WITH e AS ($edgeSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
       |  WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.a = e1.b AND e3.b = e2.b)),
       |tc AS (SELECT vertex, COUNT(*) AS triangles FROM (
       |         SELECT x AS vertex FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
       |       GROUP BY vertex),
       |deg AS (SELECT vertex, COUNT(*) AS deg FROM (
       |          SELECT a AS vertex FROM und UNION ALL SELECT b FROM und)
       |        GROUP BY vertex)
       |SELECT d.vertex, d.deg, COALESCE(tc.triangles, 0) AS n_tri,
       |       (2 * COALESCE(tc.triangles, 0) * 1000000) // (d.deg * (d.deg - 1)) AS coeff_1e6
       |FROM deg d LEFT JOIN tc ON tc.vertex = d.vertex
       |WHERE d.deg >= 2 ORDER BY d.vertex""".stripMargin

  /** Common-neighbor link prediction over the simple undirected graph:
    * non-adjacent pairs sharing ≥ `minCommon` neighbors, with the count —
    * the classic "people you may know" / missing-edge score (the base
    * feature under Adamic-Adar and friends). `(a, b, n_common)`, a < b.
    *
    * Scale shape: wedges are enumerated center-out (`adj ⋈ adj` on the
    * shared neighbor), so cost is Σ_c deg(c)² — quadratic in HUB degree,
    * which is why `maxDegree` excludes super-hub CENTERS outright (the
    * standard cut in the triangle/CN literature: a celebrity's followers
    * sharing that one neighbor is signal-free and would dominate the whole
    * job; the same pruning triangleCounts gets from its degree
    * orientation). The wedge shuffle carries only id pairs; the anti-join
    * against the edge list removes already-connected pairs.
    */
  /** The wedge-center degree cap, either fixed (`maxDegree`) or ADAPTIVE:
    * `capPercentile = Some(p)` sizes the cap from the degree distribution —
    * cap = min d such that (#vertices with degree ≤ d)·100 ≥ |V|·p — so the
    * same gate parameters stay non-vacuous as the graph densifies (a fixed
    * cap tuned at sf0.01 excludes almost every center of the 10×-denser
    * sf0.1 graph). Pure integer arithmetic over the (≤ max-degree)-row
    * distinct-degree table, mirrored verbatim in SQL; the single-partition
    * window and the broadcast of the 1-row cap are bounded by the degree
    * VALUE range, not |V|.
    */
  private def cappedCenters(deg: DataFrame, maxDegree: Int,
                            capPercentile: Option[Int]): DataFrame =
    capPercentile match {
      case None => deg.filter(col("d") <= maxDegree)
      case Some(p) =>
        require(p >= 1 && p <= 100, s"capPercentile must be in 1..100, got $p")
        val dd = deg.groupBy("d").agg(count(lit(1)).as("n"))
        val cum = dd.withColumn("cum",
          sum("n").over(org.apache.spark.sql.expressions.Window.orderBy("d")))
        val tot = deg.agg(count(lit(1)).as("tot"))
        val cap = cum.crossJoin(tot).filter(col("cum") * 100 >= col("tot") * p)
          .agg(min(col("d")).as("cap"))
        deg.crossJoin(broadcast(cap)).filter(col("d") <= col("cap"))
          .select("c", "d")
    }

  /** SQL fragment mirroring [[cappedCenters]]'s adaptive cap: CTEs `dd`,
    * `cum`, `cap` over an existing `deg(c, d)` CTE; the center filter is
    * `deg.d <= (SELECT cap FROM cap)`.
    */
  private def capSql(p: Int): String =
    s"""dd AS (SELECT d, COUNT(*) AS n FROM deg GROUP BY d),
       |cum AS (SELECT d, SUM(n) OVER (ORDER BY d) AS cum_n, (SELECT COUNT(*) FROM deg) AS tot FROM dd),
       |cap AS (SELECT MIN(d) AS cap FROM cum WHERE cum_n * 100 >= tot * $p)""".stripMargin

  def commonNeighbors(edges: DataFrame, minCommon: Int = 3, maxDegree: Int = 64,
                      capPercentile: Option[Int] = None): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val adj = und.select(col("a").as("c"), col("b").as("leaf"))
      .union(und.select(col("b").as("c"), col("a").as("leaf")))
    val deg = adj.groupBy("c").agg(count(lit(1)).as("d"))
    val ctr = adj.join(cappedCenters(deg, maxDegree, capPercentile), "c")
    ctr.as("x")
      .join(ctr.as("y"), col("x.c") === col("y.c") && col("x.leaf") < col("y.leaf"))
      .select(col("x.leaf").as("a"), col("y.leaf").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
      .join(und, Seq("a", "b"), "left_anti")
      .orderBy("a", "b")
  }

  /** Bipartiteness check (2-colorability) per connected component of the
    * simple undirected graph: `(component, n_vertices, is_bipartite)` —
    * the structural test behind user×item modeling (a co-interaction
    * graph that is NOT bipartite signals contaminated roles) and
    * odd-cycle detection generally.
    *
    * Algorithm: components from GraphX [[connectedComponents]] (label =
    * min vertex id); then a parity-BFS FIXPOINT from each component's
    * root — state is the distinct `(vertex, parity)` pairs reachable from
    * the root, grown one BSP superstep per driver-loop round until no new
    * pair appears (≤ 2·diameter+1 rounds; convergence-checked like
    * [[kCore]]'s peeling, no hop cap to tune). A vertex reachable with
    * BOTH parities witnesses an odd closed walk ⇒ an odd cycle ⇒ its
    * component is not bipartite; if no such vertex exists the parity
    * classes ARE a proper 2-coloring.
    *
    * Scale shape: per round, one join of the (≤ 2|V|-row) parity table
    * into the symmetric edge list + a distinct — vertex-sized exchanges
    * against a once-checkpointed edge relation, the BFS residency story;
    * state is bounded at 2|V| rows total, not frontier-history.
    */
  def bipartiteCheck(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val sym = und.union(und.select(col("b"), col("a")).toDF("a", "b"))
      .localCheckpoint(true)
    val comp = connectedComponents(und.select(col("a").as("src"), col("b").as("dst")))
      .localCheckpoint(true)
    var reach = comp.filter(col("vertex") === col("component"))
      .select(col("vertex"), lit(0).as("p")).localCheckpoint(true)
    var n = reach.count()
    var grew = n > 0
    while (grew) {
      val next = reach.join(sym, reach("vertex") === sym("a"))
        .select(sym("b").as("vertex"), (lit(1) - col("p")).as("p"))
      val merged = reach.union(next).distinct().localCheckpoint(true)
      val m = merged.count()
      grew = m > n
      reach = merged
      n = m
    }
    val odd = reach.groupBy("vertex").agg(count(lit(1)).as("np"))
      .filter(col("np") === 2).select("vertex")
    val bad = comp.join(odd, Seq("vertex"), "left_semi")
      .select("component").distinct().withColumn("has_odd", lit(true))
    comp.groupBy("component").agg(count(lit(1)).as("n_vertices"))
      .join(bad, Seq("component"), "left_outer")
      .select(col("component"), col("n_vertices"),
        (!coalesce(col("has_odd"), lit(false))).as("is_bipartite"))
      .orderBy("component")
  }

  /** DuckDB mirror of [[bipartiteCheck]]: undirected reachability closure
    * for components (min-id label, as GraphX computes), recursive
    * parity reach from the roots, odd vertex = both parities.
    */
  def bipartiteCheckSql(edgeSql: String): String =
    s"""WITH RECURSIVE e AS ($edgeSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
       |sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |r(v, w) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM sym) t
       |  UNION
       |  SELECT r.v, sym.b FROM r JOIN sym ON sym.a = r.w),
       |comp AS (SELECT v AS vertex, MIN(w) AS component FROM r GROUP BY v),
       |pr(vertex, p) AS (
       |  SELECT component, 0 FROM (SELECT DISTINCT component FROM comp) c
       |  UNION
       |  SELECT sym.b, 1 - pr.p FROM pr JOIN sym ON sym.a = pr.vertex),
       |odd AS (SELECT vertex FROM pr GROUP BY vertex HAVING COUNT(*) = 2),
       |bad AS (SELECT DISTINCT comp.component FROM comp JOIN odd ON odd.vertex = comp.vertex)
       |SELECT comp.component, COUNT(*) AS n_vertices,
       |       (bad.component IS NULL) AS is_bipartite
       |FROM comp LEFT JOIN bad ON bad.component = comp.component
       |GROUP BY comp.component, bad.component
       |ORDER BY comp.component""".stripMargin

  /** Adamic-Adar link prediction over the simple undirected graph: the
    * common-neighbor count of [[commonNeighbors]] weighted by center
    * rarity — each shared neighbor z contributes 1/ln(deg(z)), so a
    * neighbor shared through a 3-degree vertex says far more than one
    * shared through a hub (Adamic & Adar 2003, "Friends and neighbors on
    * the Web"). `(a, b, n_common, aa_6)` for non-adjacent pairs with
    * ≥ `minCommon` shared neighbors, a < b, score rounded to 1e-6 (the
    * fp-error-below-rounding-grain contract of [[pageRank]]/[[hits]]).
    *
    * Same center-out wedge shape and super-hub center cap as
    * [[commonNeighbors]] — the cap here is not only a cost guard: an
    * excluded center would contribute at most 1/ln(maxDegree) anyway, the
    * term the estimator weights least. Every wedge carries the center's
    * degree with it, so the score needs no extra join.
    */
  def adamicAdar(edges: DataFrame, minCommon: Int = 2, maxDegree: Int = 64,
                 capPercentile: Option[Int] = None): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val adj = und.select(col("a").as("c"), col("b").as("leaf"))
      .union(und.select(col("b").as("c"), col("a").as("leaf")))
    val deg = adj.groupBy("c").agg(count(lit(1)).as("d"))
    val ctr = adj.join(cappedCenters(deg, maxDegree, capPercentile), "c")
    ctr.as("x")
      .join(ctr.as("y"), col("x.c") === col("y.c") && col("x.leaf") < col("y.leaf"))
      // a center forming a wedge has >= 2 distinct leaves, so d >= 2 and
      // ln(d) >= ln 2 > 0 — the weight is always finite
      .select(col("x.leaf").as("a"), col("y.leaf").as("b"),
        (lit(1.0) / log(col("x.d").cast("double"))).as("w"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"), sum(col("w")).as("aa"))
      .filter(col("n_common") >= minCommon)
      .join(und, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("n_common"), Num.round6(col("aa")).as("aa_6"))
      .orderBy("a", "b")
  }

  /** DuckDB mirror of [[adamicAdar]] — same wedge enumeration, weights, cap
    * (fixed or adaptive-percentile, matching the DataFrame side).
    */
  def adamicAdarSql(edgeSql: String, minCommon: Int = 2, maxDegree: Int = 64,
                    capPercentile: Option[Int] = None): String =
    s"""WITH e AS ($edgeSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
       |adj AS (SELECT a AS c, b AS leaf FROM und UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT c, COUNT(*) AS d FROM adj GROUP BY c),
       |${capPercentile.map(p => capSql(p) + ",\n").getOrElse("")}ctr AS (SELECT adj.c, adj.leaf, deg.d FROM adj JOIN deg ON deg.c = adj.c WHERE deg.d <= ${capPercentile.map(_ => "(SELECT cap FROM cap)").getOrElse(maxDegree.toString)}),
       |p AS (SELECT x.leaf AS a, y.leaf AS b, COUNT(*) AS n_common,
       |             SUM(1.0 / ln(CAST(x.d AS DOUBLE))) AS aa
       |      FROM ctr x JOIN ctr y ON x.c = y.c AND x.leaf < y.leaf
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minCommon)
       |SELECT p.a, p.b, p.n_common, ROUND(p.aa, 6) + 0.0 AS aa_6 FROM p
       |WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = p.a AND und.b = p.b)
       |ORDER BY p.a, p.b""".stripMargin

  /** Neighborhood-Jaccard link prediction over the simple undirected
    * graph: [[commonNeighbors]]'s count normalized by the UNION of the two
    * endpoints' neighborhoods — `|N(a)∩N(b)| / |N(a)∪N(b)|`, the
    * third member of the classic link-prediction trio (count / Adamic-Adar
    * / Jaccard; Liben-Nowell & Kleinberg 2003). Normalizing by union size
    * de-biases toward low-degree pairs: ten shared neighbors between two
    * 12-degree vertices is near-certain linkage, between two hubs it is
    * noise. `(a, b, n_common, jaccard_1000)` for non-adjacent pairs, a < b,
    * score in integer permille (`n_common·1000 div (deg_a+deg_b−n_common)`)
    * so the compare is integer-exact.
    *
    * Same center-out wedge enumeration and super-hub CENTER cap as
    * [[commonNeighbors]] (the cap prunes wedge centers, bounding cost at
    * Σ_c deg(c)²); the union denominator uses the endpoints' FULL degrees
    * — uncapped, from the vertex-sized degree relation joined twice
    * (broadcast-scale at any corpus size: |V| rows of (id, int)).
    */
  def neighborJaccard(edges: DataFrame, minCommon: Int = 3, maxDegree: Int = 64,
                      capPercentile: Option[Int] = None): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val adj = und.select(col("a").as("c"), col("b").as("leaf"))
      .union(und.select(col("b").as("c"), col("a").as("leaf")))
    val deg = adj.groupBy("c").agg(count(lit(1)).as("d"))
    val ctr = adj.join(cappedCenters(deg, maxDegree, capPercentile), "c")
    ctr.as("x")
      .join(ctr.as("y"), col("x.c") === col("y.c") && col("x.leaf") < col("y.leaf"))
      .select(col("x.leaf").as("a"), col("y.leaf").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
      .join(und, Seq("a", "b"), "left_anti")
      .join(deg.select(col("c").as("a"), col("d").as("deg_a")), "a")
      .join(deg.select(col("c").as("b"), col("d").as("deg_b")), "b")
      .select(col("a"), col("b"), col("n_common"),
        expr("n_common * 1000 div (deg_a + deg_b - n_common)").as("jaccard_1000"))
      .orderBy("a", "b")
  }

  /** DuckDB mirror of [[neighborJaccard]] — same cap, wedges, anti-join,
    * and full-degree union denominator.
    */
  def neighborJaccardSql(edgeSql: String, minCommon: Int = 3, maxDegree: Int = 64,
                         capPercentile: Option[Int] = None): String =
    s"""WITH e AS ($edgeSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
       |adj AS (SELECT a AS c, b AS leaf FROM und UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT c, COUNT(*) AS d FROM adj GROUP BY c),
       |${capPercentile.map(p => capSql(p) + ",\n").getOrElse("")}ctr AS (SELECT adj.c, adj.leaf FROM adj JOIN deg ON deg.c = adj.c WHERE deg.d <= ${capPercentile.map(_ => "(SELECT cap FROM cap)").getOrElse(maxDegree.toString)}),
       |p AS (SELECT x.leaf AS a, y.leaf AS b, COUNT(*) AS n_common
       |      FROM ctr x JOIN ctr y ON x.c = y.c AND x.leaf < y.leaf
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minCommon)
       |SELECT p.a, p.b, p.n_common,
       |       (p.n_common * 1000 // (da.d + db.d - p.n_common))::BIGINT AS jaccard_1000
       |FROM p JOIN deg da ON da.c = p.a JOIN deg db ON db.c = p.b
       |WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = p.a AND und.b = p.b)
       |ORDER BY p.a, p.b""".stripMargin

  /** DuckDB mirror of [[commonNeighbors]] over the edge derivation
    * `edgeSql` — same degree cap, same wedge enumeration, same anti-join.
    */
  def commonNeighborsSql(edgeSql: String, minCommon: Int = 3, maxDegree: Int = 64,
                         capPercentile: Option[Int] = None): String =
    s"""WITH e AS ($edgeSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
       |adj AS (SELECT a AS c, b AS leaf FROM und UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT c, COUNT(*) AS d FROM adj GROUP BY c),
       |${capPercentile.map(p => capSql(p) + ",\n").getOrElse("")}ctr AS (SELECT adj.c, adj.leaf FROM adj JOIN deg ON deg.c = adj.c WHERE deg.d <= ${capPercentile.map(_ => "(SELECT cap FROM cap)").getOrElse(maxDegree.toString)}),
       |p AS (SELECT x.leaf AS a, y.leaf AS b, COUNT(*) AS n_common
       |      FROM ctr x JOIN ctr y ON x.c = y.c AND x.leaf < y.leaf
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minCommon)
       |SELECT p.a, p.b, p.n_common FROM p
       |WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = p.a AND und.b = p.b)
       |ORDER BY a, b""".stripMargin

  /** Sampled closeness-centrality profile: one hop-bounded BFS per seed,
    * reporting the INTEGER pair `(n_reached, sum_dist)` per seed (seed
    * itself excluded) — the closeness ratio `(n-1)/sum_dist` is the
    * caller's one division away, kept out of the result so the oracle
    * compare stays integer-exact. Seed-sampled closeness is the standard
    * scale shape (exact closeness is all-pairs BFS); the WHOLE seed set
    * costs one [[Traversals.landmarkBfs]] Pregel run — vertex state is a
    * seed→level map, the edge relation is traversed once — and the
    * per-seed rollup is seeds × vertex-sized rows aggregated immediately.
    */
  def closenessProfile(edges: DataFrame, seeds: Seq[Long],
                       maxDepth: Int = 12): DataFrame = {
    require(seeds.nonEmpty, "closeness needs at least one seed")
    Traversals.landmarkBfs(edges, seeds, maxDepth)
      .filter(col("vertex") =!= col("seed"))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(col("level")).cast("long").as("sum_dist"))
      .orderBy("seed")
  }

  /** Harmonic-centrality profile (Boldi & Vigna 2014, "Axioms for
    * centrality"): per seed, `Σ 1/d(seed, v)` over reached vertices — the
    * disconnection-robust closeness ([[closenessProfile]]'s ratio is
    * undefined/misleading when the graph is not strongly connected, while
    * unreachable vertices here contribute exactly 0). Reported as the
    * INTEGER `harmonic_1000 = Σ (1000 div d)` so the oracle compare is
    * exact — the caller divides by (|V|−1) for the normalized form.
    * Same one-[[Traversals.landmarkBfs]]-Pregel-run cost as g24: the
    * whole seed set traverses the edge relation once.
    */
  def harmonicProfile(edges: DataFrame, seeds: Seq[Long],
                      maxDepth: Int = 12): DataFrame = {
    require(seeds.nonEmpty, "harmonic centrality needs at least one seed")
    Traversals.landmarkBfs(edges, seeds, maxDepth)
      .filter(col("vertex") =!= col("seed"))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000 div level")).cast("long").as("harmonic_1000"))
      .orderBy("seed")
  }

  /** DuckDB mirror of [[harmonicProfile]] — same hop-bounded BFS closure,
    * same integer permille sum.
    */
  def harmonicProfileSql(edgeSql: String, seeds: Seq[Long],
                         maxDepth: Int = 12): String = {
    val seedVals = seeds.distinct.sorted.map(s => s"($s)").mkString(", ")
    s"""WITH RECURSIVE e AS ($edgeSql),
       |walk(seed, vertex, level) AS (
       |  SELECT CAST(s.s AS BIGINT) AS seed, CAST(s.s AS BIGINT) AS vertex, 0 AS level
       |  FROM (VALUES $seedVals) s(s)
       |  UNION
       |  SELECT walk.seed, e.dst, walk.level + 1
       |  FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < $maxDepth),
       |m AS (SELECT seed, vertex, MIN(level) AS level FROM walk GROUP BY seed, vertex)
       |SELECT seed, COUNT(*) AS n_reached, SUM(1000 // level)::BIGINT AS harmonic_1000
       |FROM m WHERE vertex <> seed GROUP BY seed ORDER BY seed""".stripMargin
  }

  /** Sampled eccentricity profile: per seed, the INTEGER pair
    * `(n_reached, ecc)` where `ecc = max hop distance` to any reached
    * vertex — the per-seed ingredient of the diameter (max over seeds) and
    * radius (min over seeds) estimates. Same one-[[Traversals.landmarkBfs]]
    * -Pregel-run cost as [[closenessProfile]]: the whole seed set traverses
    * the edge relation once, and the rollup is seeds × vertex-sized rows
    * aggregated immediately. Hop-bounded at `maxDepth` (an eccentricity
    * larger than the bound reports the bound — the standard sampled form;
    * the oracle mirrors the same bound).
    */
  def eccentricityProfile(edges: DataFrame, seeds: Seq[Long],
                          maxDepth: Int = 12): DataFrame = {
    require(seeds.nonEmpty, "eccentricity needs at least one seed")
    Traversals.landmarkBfs(edges, seeds, maxDepth)
      .filter(col("vertex") =!= col("seed"))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        max(col("level")).cast("long").as("ecc"))
      .orderBy("seed")
  }

  /** DuckDB mirror of [[eccentricityProfile]] — same hop-bounded BFS
    * closure, same integer max.
    */
  def eccentricityProfileSql(edgeSql: String, seeds: Seq[Long],
                             maxDepth: Int = 12): String = {
    val seedVals = seeds.distinct.sorted.map(s => s"($s)").mkString(", ")
    s"""WITH RECURSIVE e AS ($edgeSql),
       |walk(seed, vertex, level) AS (
       |  SELECT CAST(s.s AS BIGINT) AS seed, CAST(s.s AS BIGINT) AS vertex, 0 AS level
       |  FROM (VALUES $seedVals) s(s)
       |  UNION
       |  SELECT walk.seed, e.dst, walk.level + 1
       |  FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < $maxDepth),
       |m AS (SELECT seed, vertex, MIN(level) AS level FROM walk GROUP BY seed, vertex)
       |SELECT seed, COUNT(*) AS n_reached, MAX(level)::BIGINT AS ecc
       |FROM m WHERE vertex <> seed GROUP BY seed ORDER BY seed""".stripMargin
  }

  /** Newman modularity of a community assignment, per community: for each
    * label `c`, `Q_c = in_c/m − (d_c/(2m))²` over the UNDIRECTED simple
    * graph (in_c = intra-community edges, d_c = degree mass, m = total
    * edges); `Σ_c Q_c` is the textbook modularity Q. The quality score
    * every community-detection loop (LPA here, Louvain in general)
    * optimizes — exposed as its own operator so any labeling can be
    * scored. `(label, n_vertices, in_edges, deg_sum, q_6)`.
    *
    * Exactness: in_c, d_c, m are exact BIGINTs; Q_c is two divisions and
    * one multiply on those integers — bit-identical across engines — then
    * rounded to 1e-6.
    *
    * Scale shape: two broadcast-sized joins of the edge relation against
    * the vertex-sized label table, one label-keyed aggregation each;
    * m rides along as a 1-row cross join (never a driver collect). No
    * corpus-sized state beyond the edge pass.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val adj = und.select(col("a").as("c")).union(und.select(col("b").as("c")))
    val deg = adj.groupBy("c").agg(count(lit(1)).as("d"))
    val lab = labels.select(col("vertex").cast("long").as("v"),
      col("label").cast("long").as("label"))
    val m = und.agg(count(lit(1)).as("m"))
    val inn = und
      .join(lab.select(col("v").as("a"), col("label").as("la")), "a")
      .join(lab.select(col("v").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("in_edges"))
    val dc = deg.join(lab.select(col("v").as("c"), col("label")), "c")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vertices"), sum(col("d")).cast("long").as("deg_sum"))
    dc.join(inn, Seq("label"), "left_outer")
      .na.fill(0L, Seq("in_edges"))
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_vertices"), col("in_edges"), col("deg_sum"),
        Num.round6(col("in_edges").cast("double") / col("m").cast("double")
          - (col("deg_sum").cast("double") / (col("m").cast("double") * 2))
          * (col("deg_sum").cast("double") / (col("m").cast("double") * 2))).as("q_6"))
      .orderBy("label")
  }

  /** DuckDB mirror of [[modularity]] over the edge derivation `edgeSql`,
    * scoring the label assignment `labelSql` (columns `v, l`) — same
    * undirected simple graph, same integer masses, same expression shape
    * for Q_c.
    */
  def modularitySql(edgeSql: String, labelSql: String): String =
    s"""WITH e AS ($edgeSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
       |adj AS (SELECT a AS c FROM und UNION ALL SELECT b FROM und),
       |deg AS (SELECT c, COUNT(*) AS d FROM adj GROUP BY c),
       |lab AS ($labelSql),
       |m AS (SELECT COUNT(*) AS m FROM und),
       |inn AS (SELECT la.l AS label, COUNT(*) AS in_edges
       |        FROM und JOIN lab la ON la.v = und.a JOIN lab lb ON lb.v = und.b
       |        WHERE la.l = lb.l GROUP BY 1),
       |dc AS (SELECT lab.l AS label, COUNT(*) AS n_vertices, SUM(deg.d)::BIGINT AS deg_sum
       |       FROM deg JOIN lab ON lab.v = deg.c GROUP BY 1)
       |SELECT dc.label, dc.n_vertices, COALESCE(inn.in_edges, 0) AS in_edges, dc.deg_sum,
       |       round(COALESCE(inn.in_edges, 0)::DOUBLE / m.m::DOUBLE
       |             - (dc.deg_sum::DOUBLE / (m.m::DOUBLE * 2))
       |             * (dc.deg_sum::DOUBLE / (m.m::DOUBLE * 2)), 6) + 0.0 AS q_6
       |FROM dc CROSS JOIN m LEFT JOIN inn ON inn.label = dc.label
       |ORDER BY dc.label""".stripMargin

  /** One-hop neighborhood feature aggregation — the message-passing /
    * feature-engineering primitive (a GraphSAGE-style mean-aggregate step,
    * with out-degree as the node feature since the catalog's graphs carry
    * none): per vertex, over its DISTINCT out-neighbors (self-loops
    * dropped), the neighbor count, min/max neighbor id, and the mean
    * neighbor out-degree as integer permille (`sum·1000 div n` — exact).
    * `(vertex, n_out, min_nbr, max_nbr, nbr_deg_permille)`.
    *
    * Scale shape: one out-degree aggregation + one (dst = vertex) join of
    * the edge relation against the vertex-sized degree table + one
    * src-keyed aggregation — all map-side combinable, nothing bigger than
    * the edge pass itself. Iterating this k times is k-hop message
    * passing; each round exchanges only vertex-sized feature tables.
    */
  def neighborStats(edges: DataFrame): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val outDeg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    e.join(outDeg.select(col("v").as("dst"), col("d")), Seq("dst"), "left_outer")
      .na.fill(0L, Seq("d")) // sink neighbors have out-degree 0
      .groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("n_out"), min(col("dst")).as("min_nbr"),
        max(col("dst")).as("max_nbr"), sum(col("d")).cast("long").as("sd"))
      .select(col("vertex"), col("n_out"), col("min_nbr"), col("max_nbr"),
        expr("sd * 1000 div n_out").as("nbr_deg_permille"))
      .orderBy("vertex")
  }

  /** DuckDB mirror of [[neighborStats]] — same simple-graph derivation,
    * same integer permille.
    */
  def neighborStatsSql(edgeSql: String): String =
    s"""WITH e0 AS ($edgeSql),
       |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |deg AS (SELECT src AS v, COUNT(*) AS d FROM e GROUP BY 1)
       |SELECT e.src AS vertex, COUNT(*) AS n_out, MIN(e.dst) AS min_nbr,
       |       MAX(e.dst) AS max_nbr,
       |       (SUM(COALESCE(deg.d, 0)) * 1000 // COUNT(*))::BIGINT AS nbr_deg_permille
       |FROM e LEFT JOIN deg ON deg.v = e.dst
       |GROUP BY e.src ORDER BY vertex""".stripMargin

  /** Louvain-style modularity sweep (the local-move phase of Blondel et
    * al. 2008, in deterministic PARITY-ALTERNATING synchronous form): per
    * round, the vertices of ONE id-parity class simultaneously move to
    * the candidate community — their neighbors' current labels plus their
    * own — maximizing the move gain; the other class holds still.
    * Alternating classes is the distributed answer to Louvain's
    * inherently sequential local moves: fully simultaneous moves OSCILLATE
    * (two symmetric singletons adopt each other's labels forever — the
    * classic synchronous two-coloring flip), while half-sweeps make every
    * executed move a real modularity improvement against a fixed
    * neighborhood. The gain comparison is the EXACT INTEGER score
    * `2m·e_vc − deg(v)·dC(c)` (the ΔQ numerator with constant terms
    * dropped, scaled by 2m² > 0; dC excludes v's own degree when c is its
    * current community), so argmax and ties (smallest community label) are
    * engine-exact with no float discipline at all — the same
    * cross-multiplication trick as e27. Labels init to vertex ids;
    * `(vertex, label)` after `rounds` half-sweeps. Where
    * [[labelPropagation]] chases majority labels (resolution-blind), this
    * sweep optimizes the actual modularity objective [[modularity]]
    * scores.
    *
    * Scale shape per round (see [[sweep]]): one GraphX round over the
    * edges partitioned once — community masses reach every vertex through
    * a per-partition lookup, neighbors offer `(label, mass, w)` along the
    * triplets, and each vertex of the moving parity picks its move from
    * those local offers; one job per round. Integer range: |score| ≤
    * 2m·deg — at 10¹² edges and 10⁶-degree hubs this brushes Long range.
    * No edges (or only self-loops) → zero rows.
    */
  def louvainSweep(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val g = GraphLoop.place(GraphLoop.simplePairs(edges).map { case (a, b) => Edge(a, b, 1L) }, noLabel)
    try sweep(g, rounds).mapValues(_._1).toDF("vertex", "label").orderBy("vertex")
    finally GraphLoop.release(g)
  }

  /** Weighted local-move core shared by [[louvainSweep]] (w ≡ 1) and
    * [[louvain]]'s coarsened levels. Input: canonical undirected weighted
    * edges `(a <= b, w > 0)`, self-loops allowed (a self-loop counts TWICE
    * in its vertex's degree — the standard weighted-modularity convention —
    * and is a constant across a vertex's move candidates, so it never
    * enters the argmax). All masses are exact integers: W = Σw, k_v =
    * Σ_{u≠v} w(v,u) + 2·w(v,v), e_vc = Σ_{u∈c, u≠v} w(v,u), and the move
    * score is the cross-multiplied ΔQ numerator `2W·e_vc − k_v·dC(c)` —
    * engine-exact, no float discipline. Parity-alternating half-sweeps as
    * documented on [[louvainSweep]]; a vertex moves iff
    * `floorMod(vertex, 2) == round % 2`. Returns the last round's
    * [[Community]] state.
    *
    * Per round: every vertex learns its community's mass by [[GraphLoop.lookup]]
    * (masses summed map-side by label), then each proper edge offers
    * `label → (mass, w)` to its endpoints of the moving parity, and the
    * vertex join takes the best-scoring offer (own community included).
    * The round's one job materializes the moved state.
    */
  private def sweep(g: XGraph[Community, Long], rounds: Int): VertexRDD[Community] = {
    val deg = g.aggregateMessages[Long](t =>
      if (t.srcId == t.dstId) t.sendToSrc(2 * t.attr)
      else { t.sendToSrc(t.attr); t.sendToDst(t.attr) }, _ + _, TripletFields.EdgeOnly)
    var state = GraphLoop.cut(deg.mapValues((v, k) => (v, k, 0L)))
    if (rounds > 0) {
      val twoW = state.values.map(_._2).fold(0L)(_ + _) // Σk = 2W
      for (r <- 1 to rounds) {
        val prev = state
        val mass = GraphLoop.lookup(prev, (s: Community) => s._1,
          prev.values.map(s => (s._1, s._2)).reduceByKey(_ + _))
        val withMass = prev.innerZipJoin(mass)((_, s, m) => (s._1, s._2, m))
        def moves(v: VertexId) = Math.floorMod(v, 2L) == r % 2
        val offers = GraphLoop.on(g, withMass).aggregateMessages[Map[Long, (Long, Long)]](t =>
          if (t.srcId != t.dstId) {
            if (moves(t.dstId)) t.sendToDst(Map(t.srcAttr._1 -> (t.srcAttr._3, t.attr)))
            if (moves(t.srcId)) t.sendToSrc(Map(t.dstAttr._1 -> (t.dstAttr._3, t.attr)))
          }, mergeOffers)
        state = GraphLoop.cut(withMass.leftJoin(offers) { case (v, s @ (own, k, ownMass), o) =>
          if (!moves(v)) s
          else {
            val cands = o.getOrElse(Map.empty[Long, (Long, Long)])
            val stay = twoW * cands.get(own).fold(0L)(_._2) - k * (ownMass - k)
            val scores = Iterator(own -> stay) ++
              cands.iterator.collect { case (c, (m, e)) if c != own => c -> (twoW * e - k * m) }
            // integer argmax, ties to the SMALLEST community label
            (scores.maxBy { case (c, score) => (score, -c) }._1, k, ownMass)
          }
        })
        state.count() // the round's one job
      }
    }
    state
  }

  /** A Louvain vertex: `(label, k_v, mass of the label)`; the mass is
    * refreshed at the start of every round. */
  private type Community = (Long, Long, Long)
  private val noLabel: Community = (0L, 0L, 0L)

  /** Sums two vertices' offers per community label (the mass is the
    * label's, equal in both). */
  private def mergeOffers(a: Map[Long, (Long, Long)],
                          b: Map[Long, (Long, Long)]): Map[Long, (Long, Long)] = {
    val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
    small.foldLeft(big) { case (acc, (c, (m, e))) =>
      acc.updated(c, (m, acc.get(c).fold(e)(_._2 + e)))
    }
  }

  /** Full two-phase Louvain (Blondel et al. 2008): the local-move sweep,
    * then COARSENING — every community contracts to one super-vertex
    * (inter-community edge weights sum; intra-community mass becomes the
    * super-vertex's self-loop), the coarsened WEIGHTED graph is re-swept,
    * and the coarse labels unfold back through the level-1 assignment.
    * This is what [[louvainSweep]] alone cannot do: a level-2 move
    * relocates an ENTIRE level-1 community at once, the multi-level
    * refinement that gives Louvain its quality. `levels = 2` (sweep →
    * contract → sweep) is the standard depth at which most of the
    * modularity gain lands; deeper hierarchies iterate the same pair.
    * Deterministic end to end: both levels use the exact-integer move
    * scores, and the coarse vertex ids ARE the level-1 community labels
    * (vertex ids), so parity alternation is well-defined on both
    * engines. `(vertex, label)` — label = the level-2 community of v's
    * level-1 community. No edges (or only self-loops) → zero rows.
    *
    * Scale shape: level 1 is [[sweep]] (one job per round); the
    * contraction maps the level-1 edges through the labels on their
    * triplets and sums per coarse `(a, b)` (map-side combined) — after
    * which the level-2 graph is community-count-sized, typically orders
    * of magnitude smaller; its sweep costs a fraction of level 1. The
    * labels unfold by [[GraphLoop.lookup]], so a giant community is never
    * a skewed join key.
    */
  def louvain(edges: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val g1 = GraphLoop.place(GraphLoop.simplePairs(edges).map { case (a, b) => Edge(a, b, 1L) }, noLabel)
    try {
      val l1 = sweep(g1, rounds)
      val coarse = GraphLoop.on(g1, l1).triplets
        .map { t =>
          val (la, lb) = (t.srcAttr._1, t.dstAttr._1)
          ((math.min(la, lb), math.max(la, lb)), t.attr)
        }
        .reduceByKey(_ + _)
        .map { case ((a, b), w) => Edge(a, b, w) }
      val g2 = GraphLoop.place(coarse, noLabel)
      try {
        val l2 = sweep(g2, rounds)
        GraphLoop.lookup(l1, (s: Community) => s._1, l2.mapValues(_._1))
          .toDF("vertex", "label").orderBy("vertex")
      } finally GraphLoop.release(g2)
    } finally GraphLoop.release(g1)
  }

  /** Minimum spanning forest — Borůvka rounds, the parallel MST algorithm
    * (each round, EVERY component picks its minimum outgoing edge, so the
    * component count at least halves → ≤ log₂|V| rounds of edge-pass
    * work; Kruskal's global sort and Prim's sequential frontier don't
    * parallelize). Input `edges(src, dst, w)`; parallel/reverse duplicates
    * collapse to the canonical `(a < b)` pair with the MINIMUM weight, and
    * weights must be UNIQUE per canonical edge (checked loudly) — unique
    * weights make the forest unique, which is what lets the independent
    * sequential-Kruskal oracle agree edge-for-edge. `(a, b, w)` rows of
    * the forest, ordered.
    *
    * Scale shape per round: one GraphX CC over the CHOSEN forest (≤ |V|−1
    * edges, not the input), one join of the full edge relation against
    * the vertex-sized component table, one per-component min-struct
    * aggregation (map-side combined — the d12 keeper trick). The full
    * edge set is scanned once per round; rounds are logarithmic. The
    * per-round `count` is a 1-long driver read (loop control).
    */
  def minimumSpanningForest(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"),
        col("w").cast("long").as("w"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"), col("w"))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
      .localCheckpoint(true)
    val dupW = und.groupBy("w").count().filter(col("count") > 1).limit(1).count()
    require(dupW == 0, "minimumSpanningForest requires unique edge weights " +
      "(unique weights <=> unique forest); disambiguate, e.g. w' = w * |E| + rank")
    val vertices = und.select(col("a").as("vertex"))
      .union(und.select(col("b").as("vertex"))).distinct().localCheckpoint(true)
    var chosen = Seq.empty[(Long, Long, Long)].toDF("a", "b", "w").localCheckpoint(true)
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      // components of the forest chosen so far (isolated vertices = own id)
      val cc = connectedComponents(
        chosen.select(col("a").as("src"), col("b").as("dst")))
      val comp = vertices.join(cc, Seq("vertex"), "left_outer")
        .select(col("vertex"), coalesce(col("component"), col("vertex")).as("comp"))
      // minimum outgoing edge per component, deterministic by unique w
      val crossing = und
        .join(comp.select(col("vertex").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("vertex").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      val picks = crossing.select(col("ca").as("comp"), struct(col("w"), col("a"), col("b")).as("e"))
        .union(crossing.select(col("cb").as("comp"), struct(col("w"), col("a"), col("b")).as("e")))
        .groupBy("comp").agg(min(col("e")).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"), col("e.w").as("w"))
        .distinct() // both endpoints' components may pick the same edge
      val added = picks.count() // loop control: 1-long driver read
      if (added == 0) done = true
      else chosen = chosen.union(picks).distinct().localCheckpoint(true)
      round += 1
    }
    chosen.orderBy("a", "b")
  }

  /** DuckDB mirror of [[closenessProfile]]: one recursive walk carrying the
    * seed, min level per (seed, vertex), integer rollup.
    */
  def closenessProfileSql(edgeSql: String, seeds: Seq[Long],
                          maxDepth: Int = 12): String = {
    val seedVals = seeds.distinct.sorted.map(s => s"($s)").mkString(", ")
    s"""WITH RECURSIVE e AS ($edgeSql),
       |walk(seed, vertex, level) AS (
       |  SELECT CAST(s.s AS BIGINT) AS seed, CAST(s.s AS BIGINT) AS vertex, 0 AS level
       |  FROM (VALUES $seedVals) s(s)
       |  UNION
       |  SELECT walk.seed, e.dst, walk.level + 1
       |  FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < $maxDepth),
       |m AS (SELECT seed, vertex, MIN(level) AS level FROM walk GROUP BY seed, vertex)
       |SELECT seed, COUNT(*) AS n_reached, SUM(level)::BIGINT AS sum_dist
       |FROM m WHERE vertex <> seed GROUP BY seed ORDER BY seed""".stripMargin
  }

  /** Seed-sampled betweenness centrality (Brandes 2001, "A faster algorithm
    * for betweenness centrality") over the DIRECTED simple graph:
    * `(vertex BIGINT, bc_6 DOUBLE)` — per-seed dependency accumulation
    * `δ_s(v) = Σ_{w: v→w, d(w)=d(v)+1} (σ(v)/σ(w))·(1+δ(w))`, summed over
    * `seeds` and rounded to 1e-6 (the [[pageRank]]
    * fp-error-below-rounding-grain contract). Only vertices with positive
    * accumulated dependency appear — the interesting rows, keeping output
    * seed-set-sized rather than |V|-sized. Exact betweenness divides by the
    * normalization and sums over ALL sources; seed sampling is the standard
    * scale form (Brandes & Pich 2007), and the caller picks the seeds just
    * as in [[closenessProfile]].
    *
    * BFS (and therefore the dependency) is hop-bounded at `maxDepth`:
    * shortest paths longer than the bound contribute nothing, mirrored
    * exactly by the sequential-model oracle.
    *
    * Scale shape: the edge relation is deduped, repartitioned by src and
    * persisted ONCE; the forward pass grows one frontier per level (σ =
    * sum of predecessor σ — a grouped aggregation keyed on the frontier
    * join), the backward pass walks the SAME per-level frontier tables in
    * reverse with one join + aggregation per level. All exchanged state is
    * (seed × frontier)-sized; per-level `localCheckpoint` truncates the
    * iterative lineage exactly like [[pageRank]]'s loop. Σ path counts are
    * exact BIGINTs; only the final δ ratios are doubles.
    */
  def betweennessProfile(edges: DataFrame, seeds: Seq[Long],
                         maxDepth: Int = 12): DataFrame = {
    require(seeds.nonEmpty, "betweenness needs at least one seed")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // forward: per-level frontiers carrying exact shortest-path counts σ
      var frontier = seeds.distinct.sorted.toDF("seed")
        .select(col("seed"), col("seed").as("vertex"), lit(1L).as("sigma"))
        .localCheckpoint(true)
      var settled = frontier.select("seed", "vertex").localCheckpoint(true)
      val levels = scala.collection.mutable.ArrayBuffer(frontier)
      var level = 0
      var frontierRows = frontier.count()
      while (frontierRows > 0 && level < maxDepth) {
        val next = frontier.join(e, frontier("vertex") === e("src"))
          .groupBy(col("seed"), col("dst").as("vertex"))
          .agg(sum(col("sigma")).as("sigma"))
          .join(settled, Seq("seed", "vertex"), "left_anti")
          .localCheckpoint(true)
        frontierRows = next.count()
        if (frontierRows > 0) {
          settled = settled.union(next.select("seed", "vertex")).localCheckpoint(true)
          levels += next
          frontier = next
        }
        level += 1
      }
      // backward: dependency δ per level, deepest first
      var delta = levels.last.withColumn("delta", lit(0.0)).localCheckpoint(true)
      val contributions = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      if (levels.size > 1) contributions += delta.select("seed", "vertex", "delta")
      for (l <- (levels.size - 2) to 0 by -1) {
        val succ = delta.select(col("seed"), col("vertex").as("w"),
          col("sigma").as("sigma_w"), col("delta").as("delta_w"))
        val contrib = levels(l).as("f")
          .join(e, col("f.vertex") === e("src"))
          .join(succ, col("f.seed") === succ("seed") && col("dst") === succ("w"))
          .groupBy(col("f.seed").as("seed"), col("f.vertex").as("vertex"))
          .agg(sum(col("f.sigma").cast("double") / col("sigma_w").cast("double") *
            (lit(1.0) + col("delta_w"))).as("delta"))
        delta = levels(l).join(contrib, Seq("seed", "vertex"), "left_outer")
          .select(col("seed"), col("vertex"), col("sigma"),
            coalesce(col("delta"), lit(0.0)).as("delta"))
          .localCheckpoint(true)
        // level 0 is the seeds themselves: Brandes sums δ(v) only for v ≠ s
        if (l > 0) contributions += delta.select("seed", "vertex", "delta")
      }
      if (contributions.isEmpty)
        spark.emptyDataset[(Long, Double)].toDF("vertex", "bc_6")
      else
        contributions.reduce(_ union _)
          .groupBy("vertex").agg(Num.round6(sum(col("delta"))).as("bc_6"))
          .filter(col("bc_6") > 0)
          .orderBy("vertex")
    } finally e.unpersist(blocking = false)
  }

  /** Deterministic vertex priority shared by the MIS / coloring operators:
    * an LCG over the id, `(v·1103515245 + 12345) mod 2147483647` — injective
    * for v < 2³¹−1 (a·v+b mod p with a ≢ 0), so ordering by `(π(v), v)` is a
    * strict total order that behaves like a random permutation. The constant
    * is part of the operator CONTRACT (the sequential mirror restates it);
    * products stay < 2⁶² so ANSI arithmetic never overflows.
    */
  private def priorityCol(v: Column): Column =
    (v * lit(1103515245L) + lit(12345L)) % lit(2147483647L)

  /** Symmetric simple undirected adjacency `(a, b)` — both directions, no
    * self-loops (nor null endpoints), deduped. Lazy: a caller that reads it
    * more than once checkpoints it.
    */
  private def symmetric(edges: DataFrame): DataFrame = {
    val und0 = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    und0.union(und0.select(col("b"), col("a")).toDF("a", "b"))
  }

  /** Maximal independent set — the DETERMINISTIC Luby variant: per round,
    * every still-active vertex that is a `(π, id)` local minimum among its
    * active neighbors enters the set, then it and its neighbors deactivate.
    * With injective priorities this converges to EXACTLY the sequential
    * greedy MIS in `(π, id)` order (induction: v joins iff no smaller-priority
    * neighbor joined), so the oracle is an independent sequential greedy —
    * while the distributed form needs only O(log n) expected rounds, each a
    * constant number of edge-pass joins against the once-checkpointed
    * symmetric relation. Vertices that lose all neighbors become local
    * minima vacuously and join. Returns `(vertex BIGINT)` sorted.
    *
    * At 100 TB: per round two joins + one anti-join over the active edge
    * relation, all key-partitioned; active mass shrinks geometrically (each
    * round removes the MIS batch plus its whole neighborhood), so total work
    * is a small constant of one edge pass. No driver state beyond the round
    * counter.
    */
  def maximalIndependentSet(edges: DataFrame, maxRounds: Int = 256): DataFrame = {
    val sym = symmetric(edges).localCheckpoint(true) // every round re-reads it
    var active = sym.select(col("a").as("vertex")).distinct()
      .withColumn("pri", priorityCol(col("vertex")))
      .localCheckpoint(true)
    val picked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var rounds = 0
    var activeRows = active.count()
    while (activeRows > 0) {
      rounds += 1
      require(rounds <= maxRounds,
        s"maximalIndependentSet exceeded $maxRounds rounds — check the graph")
      // an active edge a—b where b precedes a in (pri, id) blocks a this round
      val actA = active
      val actB = active.select(col("vertex").as("b"), col("pri").as("pri_b"))
      val activeEdges = sym
        .join(actA.select(col("vertex").as("a"), col("pri").as("pri_a")), "a")
        .join(actB, "b")
      val blocked = activeEdges
        .filter(struct(col("pri_b"), col("b")) < struct(col("pri_a"), col("a")))
        .select(col("a").as("vertex")).distinct()
      val mis = actA.select("vertex").join(blocked, Seq("vertex"), "left_anti")
        .localCheckpoint(true)
      picked += mis
      val killed = mis.union(
        sym.join(mis.withColumnRenamed("vertex", "a"), "a").select(col("b").as("vertex")))
        .distinct()
      active = active.join(killed, Seq("vertex"), "left_anti").localCheckpoint(true)
      activeRows = active.count()
    }
    if (picked.isEmpty) edges.sparkSession.range(0).select(col("id").as("vertex"))
    else picked.reduce(_ union _).orderBy("vertex")
  }

  /** Greedy graph coloring — Jones–Plassmann scheduling of the SEQUENTIAL
    * greedy: a vertex colors itself in the round where every smaller-`(π,id)`
    * neighbor is already colored, taking the minimum excluded value (mex) of
    * its colored neighbors' colors. Since a neighbor can only have colored
    * earlier if its priority is smaller (a local-minimum argument identical
    * to the MIS proof), the result is EXACTLY greedy coloring in `(π, id)`
    * order — the oracle is an independent sequential greedy — while rounds
    * equal the longest priority-decreasing path (O(log n) expected under
    * random-like priorities). Returns `(vertex BIGINT, color BIGINT)` with
    * colors ≤ max-degree by the greedy bound.
    */
  def greedyColoring(edges: DataFrame, maxRounds: Int = 256): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // The Jones–Plassmann round count is the priority-DAG depth (~100 on
    // the gate graph) — far too many rounds for a DataFrame loop, whose
    // per-round plan/checkpoint/count overhead dwarfs the data work (a
    // lazily-chained variant is worse still: logical plans are trees, so
    // round-over-round references multiply plan size exponentially).
    // Pregel is the right substrate for deep fixpoints: per superstep one
    // message exchange over RDDs, no Catalyst replanning. Vertex state =
    // (color, colors-of-known-colored-neighbors): announcements ACCUMULATE
    // (a release message alone need not carry every earlier neighbor
    // color); a vertex colors with the mex of its accumulated set the
    // first superstep no smaller-(pri, id) uncolored neighbor exists —
    // exactly the sequential-greedy schedule, so colors (not round
    // numbers) match the oracle.
    def pri(v: Long): Long = (v * 1103515245L + 12345L) % 2147483647L
    def mex(cs: Set[Long]): Long = { var m = 0L; while (cs.contains(m)) m += 1; m }
    // message: (min uncolored-neighbor pri, its id, colored-neighbor colors);
    // pri = -2 marks Pregel's synthetic initial message (no information)
    val initial = (-2L, -2L, Set.empty[Long])
    val placed = GraphLoop.place(GraphLoop.edges(symmetric(edges).toDF("src", "dst")),
      (-1L, Set.empty[Long]))
    GraphLoop.run(placed)(g =>
      Pregel(g, initial, maxIterations = maxRounds, activeDirection = EdgeDirection.Either)(
        vprog = (vid, attr, msg) => {
          if (attr._1 >= 0L || msg._1 == -2L) attr
          else {
            val known = attr._2 ++ msg._3
            val released = msg._1 == Long.MaxValue ||
              msg._1 > pri(vid) || (msg._1 == pri(vid) && msg._2 > vid)
            if (released) (mex(known), known) else (-1L, known)
          }
        },
        sendMsg = t =>
          if (t.dstAttr._1 >= 0L) Iterator.empty // dst done — nothing to say
          else if (t.srcAttr._1 >= 0L)
            Iterator((t.dstId, (Long.MaxValue, Long.MaxValue, Set(t.srcAttr._1))))
          else Iterator((t.dstId, (pri(t.srcId), t.srcId, Set.empty[Long]))),
        mergeMsg = (a, b) => {
          val (p, i) = if (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)) (a._1, a._2) else (b._1, b._2)
          (p, i, a._3 ++ b._3)
        })) { res =>
      require(res.vertices.filter(_._2._1 < 0).count() == 0L,
        s"greedyColoring exceeded $maxRounds rounds — check the graph")
      res.vertices.map { case (v, (c, _)) => (v, c) }.toDF("vertex", "color")
    }.orderBy("vertex")
  }

  /** Maximal matching — deterministic parallel greedy (the MIS construction
    * on the LINE graph): per round, an active edge (both endpoints
    * unmatched) enters the matching iff its `(π, a, b)` priority is minimal
    * among active edges sharing either endpoint; matched endpoints then
    * deactivate every incident edge. Equals the sequential greedy matching
    * in priority order (the independent oracle), in O(log n) expected
    * rounds. The matched endpoint set is the classic 2-approximate VERTEX
    * COVER — exposed as the `in_cover` marker on both endpoints. Returns
    * matched edges `(a, b)` sorted.
    *
    * Scale: each round is two joins against the vertex "unmatched" set +
    * one self-join-free min-aggregate per endpoint (two edge-keyed
    * aggregates), with the active edge relation shrinking geometrically.
    */
  def maximalMatching(edges: DataFrame, maxRounds: Int = 256): DataFrame = {
    val und0 = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    // edge priority: LCG over the packed pair — same family as priorityCol,
    // tie-broken by (a, b) for a strict total order
    var active = und0
      .withColumn("pri", ((col("a") * 1000003L + col("b")) * 1103515245L + 12345L) % 2147483647L)
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var rounds = 0
    var activeRows = active.count()
    while (activeRows > 0) {
      rounds += 1
      require(rounds <= maxRounds,
        s"maximalMatching exceeded $maxRounds rounds — check the graph")
      // per endpoint: the minimum (pri, a, b) among its active edges; an
      // edge wins iff it is the minimum at BOTH endpoints
      val key = struct(col("pri"), col("a"), col("b"))
      val perVertex = active.select(col("a").as("v"), key.as("k"))
        .union(active.select(col("b").as("v"), key.as("k")))
        .groupBy("v").agg(min(col("k")).as("mn"))
      val winners = active
        .join(perVertex.select(col("v").as("a"), col("mn").as("mna")), "a")
        .join(perVertex.select(col("v").as("b"), col("mn").as("mnb")), "b")
        .filter(key === col("mna") && key === col("mnb"))
        .select("a", "b").localCheckpoint(true)
      out += winners
      val matched = winners.select(col("a").as("v"))
        .union(winners.select(col("b").as("v"))).distinct()
      active = active
        .join(matched.withColumnRenamed("v", "a"), Seq("a"), "left_anti")
        .join(matched.withColumnRenamed("v", "b"), Seq("b"), "left_anti")
        .localCheckpoint(true)
      activeRows = active.count()
    }
    if (out.isEmpty) edges.sparkSession.range(0)
      .select(col("id").as("a"), col("id").as("b"))
    else out.reduce(_ union _).orderBy("a", "b")
  }

  /** Core decomposition — the CORENESS of every vertex (the largest k such
    * that v survives in the k-core; g14 answers one fixed k) via the
    * H-index fixpoint (Lü et al. 2016): start at c(v) = deg(v), repeatedly
    * set c(v) to the H-index of its neighbors' current values (the largest
    * h with ≥ h neighbors at c ≥ h); values decrease monotonically and the
    * fixpoint is EXACTLY the coreness. The sequential oracle is the
    * independent Batagelj–Zaversnik min-degree peeling — a different
    * algorithm entirely, agreeing only because both are exact.
    * Returns `(vertex, coreness)` sorted; converges in a handful of rounds
    * on real graphs (loud cap).
    *
    * Scale: a GraphX loop over the simple undirected edges, partitioned
    * once. Per round each vertex gathers its neighbors' values with one
    * `aggregateMessages` (a hub's list is degree-sized) and takes their
    * H-index in the vertex join; the round's one job returns the count of
    * changed vertices, so rounds stop exactly at the fixpoint instead of
    * a guessed iteration count. No edges (or only self-loops) → zero rows.
    */
  def coreness(edges: DataFrame, maxRounds: Int = 128): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = GraphLoop.place(GraphLoop.simplePairs(edges).map { case (a, b) => Edge(a, b, ()) }, 0L)
    try {
      var c = GraphLoop.cut(g.degrees.mapValues(_.toLong))
      var rounds = 0
      var changed = 1L
      while (changed > 0) {
        rounds += 1
        require(rounds <= maxRounds,
          s"coreness exceeded $maxRounds rounds — check the graph")
        val prev = c
        // `b ::: a` keeps each merge linear in the incoming list
        val nbrs = GraphLoop.on(g, prev).aggregateMessages[List[Long]](t => {
          t.sendToDst(List(t.srcAttr))
          t.sendToSrc(List(t.dstAttr))
        }, (a, b) => b ::: a)
        c = GraphLoop.cut(prev.leftJoin(nbrs)((_, _, ns) => hIndex(ns.getOrElse(Nil))))
        changed = c.innerZipJoin(prev)((_, a, b) => if (a != b) 1L else 0L)
          .values.fold(0L)(_ + _)
      }
      c.toDF("vertex", "coreness").orderBy("vertex")
    } finally GraphLoop.release(g)
  }

  /** The largest h such that at least h of `values` are ≥ h. */
  private def hIndex(values: List[Long]): Long = {
    val desc = values.toArray.sortInPlace()(Ordering.Long.reverse)
    var h = 0L
    while (h < desc.length && desc(h.toInt) >= h + 1) h += 1
    h
  }

  /** HyperBall (Boldi & Vigna 2013) — the approximate per-vertex
    * neighborhood function: |ball(v, t)| estimated by a HyperLogLog
    * counter per vertex, propagated t rounds along OUT-edges (register-wise
    * max merge — the associative/idempotent merge is what makes giant-graph
    * reachability profiles tractable where exact per-vertex BFS closures
    * are quadratic). Deterministic contract: md5-derived item hash
    * (`hash60` — the engine-wide cross-engine hash), m = 16 registers
    * (index = h mod 16, rank = 1 + trailing zeros of h div 16, found by a
    * pure-integer bit probe — no float log anywhere in the registers),
    * fixed `t` rounds, standard HLL estimate with the small-range
    * correction, reported in integer thousandths. The mirror replays the
    * identical integer register algebra, so the gate compare is exact.
    * Returns `(vertex, ball_e3)`.
    *
    * Scale shape: state is m bytes per vertex; each round is one edge-pass
    * join + a register-wise max aggregate ((vertex, pos, max) — map-side
    * combined, 16 rows per vertex), never a set materialization. At 10¹²
    * edges this is THE practical way to ask "how far does influence
    * reach" — exact closures are off the table.
    */
  /** LOCAL community detection around a seed — the Andersen–Chung–Lang
    * sweep (FOCS 2006), the standard "find this vertex's community
    * without touching the rest of the graph" primitive: rank vertices by
    * personalized-PageRank mass normalized by degree, then sweep prefixes
    * S_1 ⊆ S_2 ⊆ … of that ranking and report each prefix's CONDUCTANCE
    * `φ(S) = cut(S) / min(vol(S), vol(V∖S))`, flagging the best (lowest
    * φ, smallest prefix on ties). Returns `(k, vertex, vol, cut, phi_e6,
    * is_best)` for prefixes k = 1..sweepK over the undirected simple
    * graph.
    *
    * Determinism: the PPR scores are g18's fixed-iteration 1e-6-rounded
    * contract, so `score = pr·10⁶/deg` divides identical doubles by
    * identical integers on both engines (total order with the vertex
    * tie-break); everything after the ranking is exact integer window
    * algebra — `vol` = cumulative degree, `cut_k = vol_k − 2·Σ e_in`
    * (e_in = edges from the k-th vertex into the prefix), φ in integer
    * micro-units by truncating division (prefix = whole graph reports
    * 10⁶).
    *
    * Scale shape: one PPR run (edge passes × numIter), one degree
    * aggregate, one prefix-membership edge join; the sweep windows run on
    * a single partition of sweepK rows — by contract, the LOCAL part of
    * the algorithm (ACL's whole point is that the community, not the
    * graph, bounds the sweep).
    */
  def localCommunitySweep(edges: DataFrame, source: Long, sweepK: Int = 30,
                          numIter: Int = 10): DataFrame = {
    require(sweepK >= 1, s"sweepK must be >= 1, got $sweepK")
    val sym = symmetric(edges).localCheckpoint(true) // PPR, degrees and the sweep read it
    val ppr = personalizedPageRank(
      sym.select(col("a").as("src"), col("b").as("dst")), source, numIter)
    val deg = sym.groupBy(col("a").as("vertex")).agg(count(lit(1)).as("deg"))
    val volTotal = sym.count() // Σ deg = both directions of every edge
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("vertex"))
    val ranked = ppr.join(deg, "vertex")
      .filter(col("pr") > 0)
      .withColumn("score", col("pr") * 1e6 / col("deg"))
      .withColumn("k", row_number().over(rankW).cast("long"))
      .filter(col("k") <= sweepK)
      .localCheckpoint(true) // the membership join and the sweep reuse it
    val eIn = sym
      .join(ranked.select(col("vertex").as("a"), col("k").as("ka")), "a")
      .join(ranked.select(col("vertex").as("b"), col("k").as("kb")), "b")
      .filter(col("kb") < col("ka"))
      .groupBy(col("a").as("vertex")).agg(count(lit(1)).as("e_in"))
    val sweepW = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val bestW = org.apache.spark.sql.expressions.Window
      .orderBy(col("phi_e6").asc, col("k").asc)
    ranked.join(eIn, Seq("vertex"), "left_outer")
      .na.fill(0L, Seq("e_in"))
      .withColumn("vol", sum("deg").over(sweepW))
      .withColumn("cut", col("vol") - lit(2L) * sum("e_in").over(sweepW))
      .withColumn("phi_e6",
        when(least(col("vol"), lit(volTotal) - col("vol")) > 0,
          expr(s"1000000 * cut div least(vol, $volTotal - vol)"))
          .otherwise(lit(1000000L)))
      .withColumn("is_best", when(row_number().over(bestW) === 1, 1L).otherwise(0L))
      .select("k", "vertex", "vol", "cut", "phi_e6", "is_best")
      .orderBy("k")
  }

  /** DuckDB mirror of [[localCommunitySweep]]: the g18 unrolled-CTE PPR
    * over the same symmetrized derivation, then identical window algebra.
    */
  def localCommunitySweepSql(edgeSql: String, source: Long, sweepK: Int = 30,
                             numIter: Int = 10): String = {
    val symSql =
      s"""SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst FROM ($edgeSql) q1 WHERE src <> dst
         |UNION ALL
         |SELECT GREATEST(src, dst), LEAST(src, dst) FROM ($edgeSql) q2 WHERE src <> dst""".stripMargin
    s"""WITH ppr AS (SELECT * FROM (${personalizedPageRankSql(symSql, source, numIter)}) pq),
       |sym AS (SELECT DISTINCT src AS a, dst AS b FROM ($symSql) sq WHERE src <> dst),
       |deg AS (SELECT a AS vertex, COUNT(*)::BIGINT AS deg FROM sym GROUP BY a),
       |vt AS (SELECT COUNT(*)::BIGINT AS vol_total FROM sym),
       |ranked AS (
       |  SELECT vertex, deg, pr * 1000000 / deg AS score,
       |         row_number() OVER (ORDER BY pr * 1000000 / deg DESC, vertex) AS k
       |  FROM ppr JOIN deg USING (vertex) WHERE pr > 0
       |  QUALIFY k <= $sweepK),
       |ein AS (
       |  SELECT ra.vertex, COUNT(*)::BIGINT AS e_in
       |  FROM sym JOIN ranked ra ON ra.vertex = sym.a
       |           JOIN ranked rb ON rb.vertex = sym.b
       |  WHERE rb.k < ra.k GROUP BY ra.vertex),
       |sw AS (
       |  SELECT r.k::BIGINT AS k, r.vertex,
       |         SUM(r.deg) OVER (ORDER BY r.k) AS vol,
       |         SUM(r.deg) OVER (ORDER BY r.k)
       |           - 2 * SUM(COALESCE(e.e_in, 0)) OVER (ORDER BY r.k) AS cut
       |  FROM ranked r LEFT JOIN ein e ON e.vertex = r.vertex),
       |ph AS (
       |  SELECT k, vertex, vol::BIGINT AS vol, cut::BIGINT AS cut,
       |         CASE WHEN LEAST(vol, vol_total - vol) > 0
       |              THEN 1000000 * cut // LEAST(vol, vol_total - vol)
       |              ELSE 1000000 END::BIGINT AS phi_e6
       |  FROM sw, vt)
       |SELECT k, vertex, vol, cut, phi_e6,
       |       CASE WHEN row_number() OVER (ORDER BY phi_e6, k) = 1 THEN 1 ELSE 0 END::BIGINT AS is_best
       |FROM ph ORDER BY k""".stripMargin
  }

  /** Rich-club coefficient profile (Zhou & Mondragón 2004; Colizza et al.
    * 2006 normalize it — the raw φ(k) here): for each degree threshold k,
    * the density among vertices of degree > k —
    * `φ(k) = 2·E_k / (n_k·(n_k−1))` with `n_k = |{v: deg(v) > k}|` and
    * `E_k` the undirected edges with BOTH endpoints in that set. "Do the
    * hubs form a club?" — a standard topology fingerprint next to
    * assortativity (g55). Returns `(k, n_k, e_k, phi_e6)` for k = 1..kMax
    * with `phi_e6 = 2·10⁶·E_k div (n_k·(n_k−1))` (exact integers; rows
    * with n_k < 2 carry phi_e6 = 0).
    *
    * Scale shape: one degree aggregate, one degree-annotated edge pass;
    * the k-profile is a conditional aggregation over a kMax-row explode of
    * scalars (never of the edge set — each edge contributes to all k below
    * `min(deg_a, deg_b)` via one integer comparison per k, map-side
    * combined to kMax rows).
    */
  def richClub(edges: DataFrame, kMax: Int = 16): DataFrame = {
    require(kMax >= 1, s"kMax must be >= 1, got $kMax")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
      .localCheckpoint(true) // degree pass + annotated pass both read it
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val ks = (1 to kMax).map(_.toLong).toDF("k")
    val nk = deg.crossJoin(broadcast(ks))
      .groupBy("k").agg(sum(when(col("deg") > col("k"), 1L).otherwise(0L)).as("n_k"))
    val ek = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(least(col("da"), col("db")).as("mindeg"))
      .crossJoin(broadcast(ks))
      .groupBy("k").agg(sum(when(col("mindeg") > col("k"), 1L).otherwise(0L)).as("e_k"))
    nk.join(ek, "k")
      .select(col("k"), col("n_k"), col("e_k"),
        when(col("n_k") >= 2, expr("2000000 * e_k div (n_k * (n_k - 1))"))
          .otherwise(0L).as("phi_e6"))
      .orderBy("k")
  }

  /** DuckDB mirror of [[richClub]] over edge derivation `edgeSql`. */
  def richClubSql(edgeSql: String, kMax: Int = 16): String =
    s"""WITH e AS ($edgeSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |        FROM e WHERE src <> dst),
       |deg AS (SELECT v, COUNT(*)::BIGINT AS deg
       |        FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
       |ks AS (SELECT k::BIGINT AS k FROM UNNEST(range(1, ${kMax + 1})) AS t(k)),
       |nk AS (SELECT k, SUM(CASE WHEN deg > k THEN 1 ELSE 0 END)::BIGINT AS n_k
       |       FROM deg CROSS JOIN ks GROUP BY k),
       |ek AS (SELECT k, SUM(CASE WHEN LEAST(da.deg, db.deg) > k THEN 1 ELSE 0 END)::BIGINT AS e_k
       |       FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b
       |       CROSS JOIN ks GROUP BY k)
       |SELECT nk.k, n_k, e_k,
       |       CASE WHEN n_k >= 2 THEN 2000000 * e_k // (n_k * (n_k - 1)) ELSE 0 END::BIGINT AS phi_e6
       |FROM nk JOIN ek ON ek.k = nk.k ORDER BY nk.k""".stripMargin

  /** HyperBall's m = 16 single-set-bit register initialization — one row
    * per vertex, `regs` = 16 ints (index = h mod 16, rank = first set bit
    * of h div 16, 41 if none). Shared by [[hyperBall]] and
    * [[neighborhoodFunction]] so the two stay one register contract.
    */
  private def hllInit(verts: DataFrame): DataFrame = {
    val m = 16
    val h = graft.functions.Hashing.hash60(col("vertex").cast("string"))
    verts
      .withColumn("h", h)
      .withColumn("idx", (col("h") % m).cast("int"))
      .withColumn("rest", expr(s"h div $m"))
      .withColumn("rank",
        expr("coalesce(cast(array_position(transform(sequence(0, 39), i -> shiftright(rest, i) & 1), 1) as int), 41)"))
      .select(col("vertex"),
        transform(sequence(lit(0), lit(m - 1)), i =>
          when(i === col("idx"), col("rank")).otherwise(0)).as("regs"))
  }

  /** One HyperBall round: merge each vertex's registers with its
    * out-neighbors' (register-wise max), returning the new state.
    */
  private def hllRound(e: DataFrame, state: DataFrame): DataFrame = {
    val fromNbrs = e.join(state.select(col("vertex").as("dst"), col("regs")), "dst")
      .select(col("src").as("vertex"), col("regs"))
    state.union(fromNbrs)
      .select(col("vertex"), posexplode(col("regs")))
      .groupBy("vertex", "pos").agg(max(col("col")).as("r"))
      .groupBy("vertex")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("r")))),
        s => s.getField("r")).as("regs"))
  }

  /** Standard HLL estimate over `regs` (alpha_16 = 0.673, small-range
    * correction) in integer thousandths — registers are exact integers on
    * both engines, the estimate is one fixed-form float expression on
    * them (contract order, mirrored).
    */
  private def hllEstimateE3: Column = {
    val m = 16
    val sumInv = expr("aggregate(regs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + pow(2.0, -x))")
    val zeros = expr("size(filter(regs, x -> x = 0))")
    val raw = lit(0.673 * m * m) / sumInv
    val est = when(raw <= 2.5 * m && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double"))).otherwise(raw)
    round(est * 1000).cast("long")
  }

  def hyperBall(edges: DataFrame, t: Int = 8): DataFrame = {
    require(t >= 0, s"t must be >= 0, got $t")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    val verts = e.select(col("src").as("vertex"))
      .union(e.select(col("dst").as("vertex"))).distinct()
    var state = hllInit(verts).localCheckpoint(true)
    for (_ <- 1 to t)
      state = hllRound(e, state).localCheckpoint(true)
    state.select(col("vertex"), hllEstimateE3.as("ball_e3"))
      .orderBy("vertex")
  }

  /** The graph's distance distribution via HyperBall — the neighborhood
    * function `N(t) = Σ_v |ball(v, t)|` (≈ ordered vertex pairs within
    * distance t, self-pairs included) for t = 0..tMax, plus the flag
    * marking the EFFECTIVE DIAMETER: the smallest t whose N(t) reaches
    * 90% of N(tMax) — the Boldi–Vigna headline statistic ("how many hops
    * cover 90% of reachable pairs", famously ≈ 4 on social graphs).
    * Returns `(t, npairs_e3, is_eff)`.
    *
    * Determinism: per-vertex estimates are the [[hyperBall]] integer-e3
    * contract; N(t) is their EXACT long sum; the 90% test is the integer
    * cross-multiplication `10·N(t) ≥ 9·N(tMax)`. The mirror replays the
    * identical register algebra round by round.
    *
    * Scale shape: identical per-round cost to [[hyperBall]] (one edge
    * join + register max-merge); the additional work per round is ONE
    * 1-row aggregate (the sum), and the result is tMax+1 driver scalars —
    * by contract, never data-sized. This is the whole point of the
    * register form: the exact distance distribution is an all-pairs BFS
    * (quadratic, off the table at 10¹² edges); the HLL profile costs
    * tMax edge passes.
    */
  def neighborhoodFunction(edges: DataFrame, tMax: Int = 8): DataFrame = {
    require(tMax >= 0, s"tMax must be >= 0, got $tMax")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    val verts = e.select(col("src").as("vertex"))
      .union(e.select(col("dst").as("vertex"))).distinct()
    var state = hllInit(verts).localCheckpoint(true)
    def nE3(st: DataFrame): Long =
      st.select(hllEstimateE3.as("b")).agg(coalesce(sum("b"), lit(0L))).head().getLong(0)
    val sums = scala.collection.mutable.ArrayBuffer((0, nE3(state)))
    for (t <- 1 to tMax) {
      state = hllRound(e, state).localCheckpoint(true)
      sums += ((t, nE3(state)))
    }
    val nFinal = sums.last._2
    val effT = sums.find { case (_, n) => 10L * n >= 9L * nFinal }.get._1
    sums.toSeq.map { case (t, n) => (t.toLong, n, if (t == effT) 1L else 0L) }
      .toDF("t", "npairs_e3", "is_eff")
  }

  /** Densest-subgraph 2(1+ε)-approximation by parallel peeling (the
    * MapReduce-friendly batch form, ε = 1/10): per round drop EVERY vertex
    * whose degree is ≤ 2(1+ε)·|E|/|V| — an EXACT integer test,
    * `10·deg·|V| ≤ 22·|E|` — and remember the round whose snapshot had the
    * best density E/V (compared by cross-multiplication, first round wins
    * ties). Since vertices above the threshold number < |V|/(1+ε), each
    * round removes a constant fraction → O(log|V|) rounds, each one
    * degree-aggregate + one semi-join over the surviving edge relation.
    * Fully integer arithmetic → bit-deterministic; the oracle is a
    * sequential mirror of the same peeling. Returns ONE row
    * `(best_round, n_vertices, n_edges, density_e6)` where
    * `density_e6 = (10⁶·E) div V`.
    *
    * At 100 TB: the per-round |E|/|V| scalars are aggregates (no collect of
    * data rows); the edge relation shrinks monotonically and is
    * re-checkpointed per round so lineage stays flat.
    */
  def densestSubgraph(edges: DataFrame, maxRounds: Int = 128): DataFrame = {
    val spark = edges.sparkSession
    val und0 = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    var und = und0.localCheckpoint(true)
    var verts = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .distinct().localCheckpoint(true)
    var (bestRound, bestV, bestE) = (0L, 0L, 0L)
    var round = 0L
    var vCount = verts.count()
    while (vCount > 0) {
      require(round <= maxRounds,
        s"densestSubgraph exceeded $maxRounds rounds — check the graph")
      val eCount = und.count()
      // density E/V beats best Eb/Vb iff E·Vb > Eb·V (first best kept on ties)
      if (bestV == 0L || eCount * bestV > bestE * vCount) {
        bestRound = round; bestV = vCount; bestE = eCount
      }
      round += 1
      val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val degAll = verts.join(deg, Seq("v"), "left_outer")
        .select(col("v"), coalesce(col("deg"), lit(0L)).as("deg"))
      val keep = degAll.filter(col("deg") * 10L * vCount > 22L * eCount)
        .select("v").localCheckpoint(true)
      und = und
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select("a", "b").localCheckpoint(true)
      verts = keep
      vCount = verts.count()
    }
    import spark.implicits._
    Seq((bestRound, bestV, bestE, if (bestV == 0L) 0L else bestE * 1000000L / bestV))
      .toDF("best_round", "n_vertices", "n_edges", "density_e6")
  }

  /** Degree assortativity (Newman 2002, eq. 4): the Pearson correlation of
    * endpoint degrees over the undirected simple edge set — positive when
    * hubs attach to hubs (social nets), negative when hubs attach to leaves
    * (the internet). All three moments are exact BIGINT sums collected in
    * ONE map-side-combinable edge pass over the degree-joined edges; the
    * closed form is cross-multiplied to two exact integers
    * `num = 4m·Σjk − (Σ(j+k))²`, `den = 2m·Σ(j²+k²) − (Σ(j+k))²`, so the
    * only float anywhere is the final one-row division (round6-normalized).
    * Returns 1 row `(m, sum_jk, sum_deg, sum_deg2, r_6)`.
    *
    * Scale shape: degree agg (one shuffle on vertex), two vertex-keyed
    * joins of the edge pass against the degree table, one global agg —
    * the same plan family as g36's modularity scorer; nothing holds more
    * than a row of state.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    withDeg.agg(
        count(lit(1)).as("m"),
        sum(col("da") * col("db")).cast("long").as("sum_jk"),
        sum(col("da") + col("db")).cast("long").as("sum_deg"),
        sum(col("da") * col("da") + col("db") * col("db")).cast("long").as("sum_deg2"))
      .select(col("m"), col("sum_jk"), col("sum_deg"), col("sum_deg2"),
        Num.round6(
          (lit(4L) * col("m") * col("sum_jk") - col("sum_deg") * col("sum_deg"))
            .cast("double") /
          (lit(2L) * col("m") * col("sum_deg2") - col("sum_deg") * col("sum_deg"))
            .cast("double")).as("r_6"))
  }

  /** DuckDB mirror of [[degreeAssortativity]] — identical canonical edge
    * set, identical integer moments, identical cross-multiplied division.
    */
  def degreeAssortativitySql(edgeSql: String): String =
    s"""WITH e0 AS ($edgeSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |        FROM e0 WHERE src <> dst),
       |deg AS (SELECT v, COUNT(*)::BIGINT AS deg FROM (
       |          SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
       |j AS (SELECT da.deg AS da, db.deg AS db
       |      FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
       |mo AS (SELECT COUNT(*)::BIGINT AS m, SUM(da*db)::BIGINT AS sum_jk,
       |              SUM(da+db)::BIGINT AS sum_deg, SUM(da*da+db*db)::BIGINT AS sum_deg2
       |       FROM j)
       |SELECT m, sum_jk, sum_deg, sum_deg2,
       |       ${Num.round6Sql("(4*m*sum_jk - sum_deg*sum_deg)::DOUBLE / " +
                               "(2*m*sum_deg2 - sum_deg*sum_deg)::DOUBLE")} AS r_6
       |FROM mo""".stripMargin

  /** Edge reciprocity of a directed graph: the fraction of (distinct,
    * non-loop) directed edges whose reverse edge also exists — 1.0 on a
    * symmetric graph, ~0 on a DAG; the classic first diagnostic on any
    * directed network. One distinct edge pass + one self-semi-join on the
    * reversed key + one global count — no state beyond the join. Returns
    * 1 row `(n_edges, n_recip, recip_6)`.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val dist = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .distinct()
    val recip = dist.join(
      dist.select(col("d").as("s"), col("s").as("d")), Seq("s", "d"), "left_semi")
    dist.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
      .select(col("n_edges"), col("n_recip"),
        Num.round6(col("n_recip").cast("double") / col("n_edges").cast("double"))
          .as("recip_6"))
  }

  /** DuckDB mirror of [[reciprocity]]. */
  def reciprocitySql(edgeSql: String): String =
    s"""WITH e0 AS ($edgeSql),
       |d AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |r AS (SELECT COUNT(*)::BIGINT AS n_recip FROM d
       |      WHERE EXISTS (SELECT 1 FROM d r2 WHERE r2.src = d.dst AND r2.dst = d.src)),
       |n AS (SELECT COUNT(*)::BIGINT AS n_edges FROM d)
       |SELECT n_edges, n_recip,
       |       ${Num.round6Sql("n_recip::DOUBLE / n_edges::DOUBLE")} AS recip_6
       |FROM n, r""".stripMargin
}
