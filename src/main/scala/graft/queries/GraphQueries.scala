package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Analytics, DerivedGraphs, GraphCatalog, Motifs, SequentialModel, Traversals}
import graft.sources.MatrixFormat
import Oracle.{Derived, Sql, values}

/** Graph operators: traversals, centralities, communities, motifs and
  * the persisted graph catalog, each gated by a recursive-CTE mirror or an
  * independent sequential model ([[graft.graph.SequentialModel]]).
  */
private[graft] object GraphQueries {

  val all: Seq[Query] = Seq(
    Query("g1_bfs_levels", (s, dir) => bigBfs(s, dir),
      Sql(s"""WITH RECURSIVE e AS (${DerivedGraphs.bigSql}),
         |walk(vertex, level) AS (
         |  SELECT CAST(0 AS BIGINT) AS vertex, 0 AS level
         |  UNION
         |  SELECT e.dst, walk.level + 1 FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < 12)
         |SELECT vertex, CAST(MIN(level) AS INT) AS level FROM walk GROUP BY vertex ORDER BY level, vertex""".stripMargin)),
    Query("g2_reachable_stats", (s, dir) => // same BFS plan as g1, reduced
      bigBfs(s, dir)
        .agg(count(lit(1)).as("n_reachable"), max("level").cast("int").as("max_level")),
      Sql(s"""WITH RECURSIVE e AS (${DerivedGraphs.bigSql}),
         |walk(vertex, level) AS (
         |  SELECT CAST(0 AS BIGINT) AS vertex, 0 AS level
         |  UNION
         |  SELECT e.dst, walk.level + 1 FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < 12)
         |SELECT COUNT(*) AS n_reachable, CAST(MAX(ml) AS INT) AS max_level
         |FROM (SELECT vertex, MIN(level) AS ml FROM walk GROUP BY vertex)""".stripMargin)),
    Query("g3_connected_components", (s, dir) =>
      Analytics.connectedComponents(DerivedGraphs.small(s, dir)).orderBy("vertex"),
      Sql(s"""WITH RECURSIVE e AS (${DerivedGraphs.smallSql}),
         |ue AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
         |v AS (SELECT a AS vertex FROM ue UNION SELECT b AS vertex FROM ue),
         |r(vertex, reach) AS (
         |  SELECT vertex, vertex FROM v
         |  UNION
         |  SELECT r.vertex, ue.b FROM r JOIN ue ON ue.a = r.reach)
         |SELECT vertex, MIN(reach) AS component FROM r GROUP BY vertex ORDER BY vertex""".stripMargin)),
    Query("g4_shortest_paths_multi", (s, dir) =>
      Traversals.multiSourceBfs(DerivedGraphs.big(s, dir), Seq(0L, 1L, 2L), maxDepth = 12),
      Sql(s"""WITH RECURSIVE e AS (${DerivedGraphs.bigSql}),
         |walk(vertex, level) AS (
         |  SELECT CAST(v AS BIGINT) AS vertex, 0 AS level FROM (VALUES (0),(1),(2)) AS t(v)
         |  UNION
         |  SELECT e.dst, walk.level + 1 FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < 12)
         |SELECT vertex, CAST(MIN(level) AS INT) AS level FROM walk GROUP BY vertex ORDER BY level, vertex""".stripMargin)),
    Query("g5_triangle_counts", (s, dir) =>
      Analytics.triangleCounts(DerivedGraphs.small(s, dir)),
      Sql(s"""WITH e AS (${DerivedGraphs.smallSql}),
         |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
         |  WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.a = e1.b AND e3.b = e2.b))
         |SELECT vertex, COUNT(*) AS triangles FROM (
         |  SELECT x AS vertex FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |GROUP BY vertex ORDER BY vertex""".stripMargin)),
    Query("g6_degrees", (s, dir) => // DerivedGraphs output is already distinct
      Analytics.degrees(DerivedGraphs.big(s, dir), dedup = false).orderBy("vertex"),
      Sql(s"""WITH e AS (${DerivedGraphs.bigSql}),
         |o AS (SELECT src AS vertex, COUNT(*) AS out_degree FROM e GROUP BY 1),
         |i AS (SELECT dst AS vertex, COUNT(*) AS in_degree FROM e GROUP BY 1)
         |SELECT COALESCE(o.vertex, i.vertex) AS vertex,
         |       COALESCE(out_degree, 0) AS out_degree, COALESCE(in_degree, 0) AS in_degree
         |FROM o FULL OUTER JOIN i ON o.vertex = i.vertex ORDER BY vertex""".stripMargin)),
    Query("g7_pagerank", (s, dir) =>
      Analytics.pageRank(DerivedGraphs.small(s, dir), numIter = 10),
      Sql(Analytics.pageRankSql(DerivedGraphs.smallSql, numIter = 10))),
    Query("g8_dfs_preorder", (s, dir) => // sequential by nature; the oracle
      // is SequentialModel's independent in-memory recursion
      Traversals.dfsPreorder(DerivedGraphs.small(s, dir), start = 0L),
      Derived(in => values("vertex" -> "BIGINT", "pos" -> "INT")(
        SequentialModel.dfsPreorder(in.smallEdges, start = 0L).zipWithIndex, "pos"))),
    Query("g9_dfs_leaves", (s, dir) => // reference op-3 leaf-set semantics
      // (secondaryServer.c:93-97), mirrored by SequentialModel
      Traversals.dfsLeaves(DerivedGraphs.small(s, dir), start = 0L),
      Derived(in => values("vertex" -> "BIGINT")(
        SequentialModel.dfsLeaves(in.smallEdges, start = 0L), "vertex"))),
    Query("g11_scc", (s, dir) =>
      // strongly connected components (directed), GraphX peeling to
      // convergence; oracle = mutual-reachability closure min-id
      Analytics.stronglyConnectedComponents(DerivedGraphs.small(s, dir)).orderBy("vertex"),
      // SCC = mutual reachability; closure is reflexive (base
      // row (v,v)), so singleton vertices label themselves
      Sql(s"""WITH RECURSIVE e AS (${DerivedGraphs.smallSql}),
         |v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
         |r(a, b) AS (
         |  SELECT vertex, vertex FROM v
         |  UNION
         |  SELECT r.a, e.dst FROM r JOIN e ON e.src = r.b)
         |SELECT f.a AS vertex, MIN(f.b) AS component
         |FROM r f JOIN r g ON g.a = f.b AND g.b = f.a
         |GROUP BY f.a ORDER BY vertex""".stripMargin)),
    Query("g12_weighted_sssp", (s, dir) =>
      // hop-bounded weighted SSSP (BSP Bellman-Ford); weights derived
      // deterministically so the recursive-CTE oracle computes the same
      // relaxation: w = (src + dst) % 10 + 1
      Traversals.weightedSssp(
        DerivedGraphs.small(s, dir)
          .withColumn("w", (col("src") + col("dst")) % 10 + 1),
        start = 0L, maxHops = 12),
      Sql(s"""WITH RECURSIVE e AS (
         |  SELECT src, dst, (src + dst) % 10 + 1 AS w FROM (${DerivedGraphs.smallSql}) t),
         |walk(vertex, cost, hops) AS (
         |  SELECT CAST(0 AS BIGINT) AS vertex, CAST(0 AS BIGINT) AS cost, 0 AS hops
         |  UNION
         |  SELECT e.dst, walk.cost + e.w, walk.hops + 1
         |  FROM walk JOIN e ON e.src = walk.vertex WHERE walk.hops < 12)
         |SELECT vertex, MIN(cost) AS cost FROM walk GROUP BY vertex ORDER BY vertex""".stripMargin)),
    Query("g45_sssp_fixpoint", (s, dir) => // UNBOUNDED weighted SSSP: the
      // Bellman-Ford fixpoint with convergence PROVEN by a final edge-pass
      // (any still-relaxable edge throws instead of returning a silently
      // hop-truncated cost); the long-haul graph's shortest paths take up
      // to 24 hops — past g12's 12-hop contract — and its never-cheaper
      // shortcut edges force rounds to supersede early expensive paths;
      // oracle = independent sequential Dijkstra (greedy settle order vs
      // synchronous relaxation — different family, must agree)
      Traversals.weightedSsspFixpoint(DerivedGraphs.longHaul(s, dir), start = 0L),
      Derived(in => values("vertex" -> "BIGINT", "cost" -> "BIGINT")(SequentialModel.dijkstra(
        DerivedGraphs.longHaulSeq(in.spark, in.sfDir), start = 0L).toSeq.sorted, "vertex"))),
    Query("g14_kcore", (s, dir) => // k-core (k=3): deletion-fixpoint wave
      // peeling — not CTE-expressible, so the gate uses a VALUES oracle
      // from SequentialModel's independent queue-based peeling
      Analytics.kCore(DerivedGraphs.small(s, dir), k = 3),
      Derived(in => values("vertex" -> "BIGINT", "core_degree" -> "BIGINT")(
        SequentialModel.kCore(in.smallEdges, k = 3).toSeq.sorted, "vertex"))),
    Query("g15_label_propagation", (s, dir) => // deterministic synchronous LPA
      // (5 rounds, min-label ties); VALUES oracle from the sequential
      // mirror — fixed-iteration semantics, like the PageRank oracle
      Analytics.labelPropagation(DerivedGraphs.small(s, dir), numIter = 5),
      Derived(in => values("vertex" -> "BIGINT", "label" -> "BIGINT")(
        labelPropagation5(in), "vertex"))),
    Query("g18_personalized_pagerank", (s, dir) => // source-restart PageRank:
      // rank as proximity to vertex 0 (the recommendation form of g7);
      // same fixed-iteration deterministic contract and unrolled-CTE mirror
      Analytics.personalizedPageRank(DerivedGraphs.small(s, dir), source = 0L, numIter = 10),
      Sql(Analytics.personalizedPageRankSql(DerivedGraphs.smallSql, source = 0L, numIter = 10))),
    Query("g19_hits", (s, dir) => // HITS hubs & authorities (Kleinberg
      // sequential update, 5 L1-normalized iterations): the directed
      // centrality pair PageRank's single score can't express — a vertex
      // can be a pure hub (links out to good authorities) with zero
      // authority; unrolled-CTE mirror like g7/g18
      Analytics.hits(DerivedGraphs.small(s, dir), numIter = 5),
      Sql(Analytics.hitsSql(DerivedGraphs.smallSql, numIter = 5))),
    Query("g17_common_neighbors", (s, dir) => // link prediction: non-adjacent
      // pairs sharing >=2 neighbors via center-out wedge enumeration; the
      // super-hub center cap is the p95 of the degree DISTRIBUTION — below
      // the max degree at every sf (capped path exercised, not a vacuous
      // guard) yet tracking density, so the rows stay non-vacuous on the
      // 10x-denser sf0.1 graph where the old fixed cap excluded nearly
      // every center
      Analytics.commonNeighbors(DerivedGraphs.small(s, dir), minCommon = 2,
        capPercentile = Some(95)),
      Sql(Analytics.commonNeighborsSql(DerivedGraphs.smallSql, minCommon = 2,
        capPercentile = Some(95)))),
    Query("g20_adamic_adar", (s, dir) => // g17's counts weighted by center
      // rarity (1/ln deg — the Adamic-Adar index): a neighbor shared
      // through a 3-degree vertex outweighs one shared through a hub;
      // same wedge machinery and adaptive p95 center cap as g17
      Analytics.adamicAdar(DerivedGraphs.small(s, dir), minCommon = 2,
        capPercentile = Some(95)),
      Sql(Analytics.adamicAdarSql(DerivedGraphs.smallSql, minCommon = 2,
        capPercentile = Some(95)))),
    Query("g28_topo_layers", (s, dir) => // critical-path schedule depth of a
      // dependency DAG (longest path ending at each vertex, sources = 0):
      // iterative max-DP fixpoint, vertex-sized state per round, loud
      // cycle cap; the DAG is the id-oriented (src < dst) derivation —
      // acyclic by construction; VALUES oracle from the independent
      // memoized-DP sequential model (path enumeration in a CTE would be
      // exponential)
      Analytics.topoLayers(
        DerivedGraphs.small(s, dir).filter(col("src") < col("dst"))),
      Derived(in => values("vertex" -> "BIGINT", "layer" -> "BIGINT")(
        SequentialModel.topoLayers(in.smallEdges.filter(e => e._1 < e._2))
        .toSeq.sorted, "vertex"))),
    Query("g27_ktruss", (s, dir) => // edge-strength community core: the
      // maximal subgraph where every EDGE closes >= k-2 in-subgraph
      // triangles — kCore's peeling refined from vertex degrees to edge
      // supports (prunes community-spanning bridges kCore keeps); wave
      // fixpoint over the degree-oriented wedge enumeration, VALUES
      // oracle from SequentialModel.kTruss per the g8/g14 discipline.
      // k=3 (every edge in a triangle): this derived graph's triangle
      // density is thin enough that k=4 empties it — k=3 keeps the gate
      // row non-vacuous while still exercising cascading waves
      Analytics.kTruss(DerivedGraphs.small(s, dir), k = 3),
      Derived { in =>
        val truss = SequentialModel.kTruss(in.smallEdges, k = 3).toSeq
          .map { case ((a, b), sp) => (a, b, sp) }.sorted
        values("a" -> "BIGINT", "b" -> "BIGINT", "support" -> "BIGINT")(truss, "a, b")
      }),
    Query("g26_neighbor_jaccard", (s, dir) => // g17's counts normalized by
      // the neighborhood UNION (|N∩|/|N∪|, integer permille): de-biases
      // link prediction toward low-degree pairs — ten shared neighbors
      // between 12-degree vertices is near-certain linkage, between hubs
      // it's noise; same capped wedge machinery, full-degree denominator
      Analytics.neighborJaccard(DerivedGraphs.small(s, dir), minCommon = 2,
        capPercentile = Some(95)),
      Sql(Analytics.neighborJaccardSql(DerivedGraphs.smallSql, minCommon = 2,
        capPercentile = Some(95)))),
    Query("g64_katz", (s, dir) => // Katz centrality, delta-converged: the
      // attenuation-walk centrality completing the family — unlike
      // PageRank it does not out-degree-normalize; same engine-exact
      // stopping contract and GraphX loop as g63 (nano contributions,
      // 1e-6 grid, integer micro-delta), oracle = independent sequential
      // fixpoint
      // alphaE3 = 10: the gate graph's max out-degree at bench scale is
      // ~39, so alpha*maxdeg <= 0.39 < 1 guarantees convergence (0.05
      // diverged at sf0.1 — deterministically and mirror-equal, but a
      // converged gate is the semantics worth binding)
      Analytics.katzConverged(DerivedGraphs.small(s, dir), alphaE3 = 10L),
      Derived(in => values("vertex" -> "BIGINT", "katz_e6" -> "BIGINT", "n_iter" -> "BIGINT")(
        SequentialModel.katzConverged(in.smallEdges, alphaE3 = 10L, tolE6 = 100L,
        maxIter = 60), "vertex"))),
    Query("g63_pagerank_converged", (s, dir) => // delta-converged PageRank
      // (the production stopping rule): per-round integer-nano
      // contribution quantization + 1e-6 rank grid make the
      // DATA-DEPENDENT stopping decision engine-exact — both engines
      // stop on the same round by construction; a GraphX loop, one job
      // per round; oracle = an independent sequential power iteration
      // applying the identical rule
      Analytics.pageRankConverged(DerivedGraphs.small(s, dir)),
      Derived(in => values("vertex" -> "BIGINT", "pr_e6" -> "BIGINT", "n_iter" -> "BIGINT")(
        SequentialModel.pageRankConverged(in.smallEdges, tolE6 = 100L,
        maxIter = 60), "vertex"))),
    Query("g21_random_walks", (s, dir) => // node2vec/DeepWalk sampling
      // primitive: per-start deterministic walks whose next-hop is an
      // md5-derived function of (start, step, vertex) — reproducible
      // across engines, so the unrolled-CTE oracle replays the exact
      // walks; ranked adjacency built once, each step joins walkers only
      Traversals.randomWalks(DerivedGraphs.big(s, dir), numSteps = 4, startMod = 100L),
      Sql(Traversals.randomWalksSql(DerivedGraphs.bigSql, numSteps = 4, startMod = 100L))),
    Query("g59_deepwalk_pairs", (s, dir) => // DeepWalk skip-gram pair
      // generation: g21's deterministic walks self-joined per walk within
      // a ±2 step window -> (center, context, cnt) — the step that turns
      // a graph into word2vec-shaped training data; one shuffle over the
      // walk corpus, never the edge table
      Traversals.deepWalkPairs(DerivedGraphs.big(s, dir), numSteps = 4,
        startMod = 100L, window = 2),
      Sql(Traversals.deepWalkPairsSql(DerivedGraphs.bigSql, numSteps = 4,
        startMod = 100L, window = 2))),
    Query("g62_node2vec_walks", (s, dir) => // SECOND-order biased walks
      // (Grover-Leskovec p/q): next hop weighted by the predecessor
      // (return / distance-1 / distance-2 classes), picked by
      // deterministic cumulative-interval weighted sampling the mirror
      // replays bit-for-bit; frontier x degree expansion per step is the
      // honest node2vec cost (alias-table shape, derandomized)
      Traversals.node2vecWalks(DerivedGraphs.big(s, dir), numSteps = 4,
        startMod = 100L),
      Sql(Traversals.node2vecWalksSql(DerivedGraphs.bigSql, numSteps = 4, startMod = 100L))),
    Query("g32_betweenness", (s, dir) => // seed-sampled Brandes betweenness
      // (the most-requested centrality after degree/PageRank): forward
      // per-level BFS frontiers carrying exact BIGINT path counts, then
      // dependency back-propagation over the same frontier tables in
      // reverse — all exchanged state (seed × frontier)-sized; VALUES
      // oracle from the independent sequential Brandes model (path
      // counting is not CTE-expressible), same g24/g29 seed discipline
      Analytics.betweennessProfile(DerivedGraphs.small(s, dir),
        seeds = Seq(0L, 1L, 2L, 3L), maxDepth = 12),
      Derived(in => values("vertex" -> "BIGINT", "bc_6" -> "DOUBLE")(
        SequentialModel.betweenness(in.smallEdges, seeds = Seq(0L, 1L, 2L, 3L),
        maxDepth = 12).toSeq.sorted, "vertex"))),
    Query("g31_motif", (s, dir) => // the graph-database pattern-query surface
      // (GraphFrames-`find` shape): directed triangles via one equi-join
      // per pattern edge over the deduped edge relation — the closing
      // (both-endpoints-bound) term is an existence filter that cannot
      // grow the intermediate; the rotation canonicalization (a = min) is
      // a caller predicate Catalyst pushes INTO the join chain; DuckDB
      // mirror is the same chain built from the same greedy join order
      Motifs.find(DerivedGraphs.small(s, dir), "(a)-(b); (b)-(c); (c)-(a)")
        .filter(col("a") < col("b") && col("a") < col("c"))
        .orderBy("a", "b", "c"),
      Sql(Motifs.findSql(DerivedGraphs.smallSql, "(a)-(b); (b)-(c); (c)-(a)",
      extraWhere = "a < b AND a < c", orderBy = "a, b, c"))),
    Query("g35_motif_negated", (s, dir) => // negated motif terms (GraphFrames
      // !-edges): open wedges — 2-paths whose closing edge is ABSENT, the
      // "recommend a→c" candidate shape; the negated term is a LEFT ANTI
      // join on the fully-bound pair (a pure filter), and the a%20
      // selectivity predicate pushes into the positive join chain
      Motifs.find(DerivedGraphs.small(s, dir), "(a)-(b); (b)-(c); !(a)-(c)")
        .filter(col("a") % 20 === 0)
        .orderBy("a", "b", "c"),
      Sql(Motifs.findSql(DerivedGraphs.smallSql,
      "(a)-(b); (b)-(c); !(a)-(c)", extraWhere = "a % 20 = 0", orderBy = "a, b, c"))),
    Query("g43_var_length_motif", (s, dir) => // variable-length path term
      // (the Cypher (a)-[*1..3]->(b) reachability-with-pattern query):
      // shortest-distance-window closure as a derived relation in the
      // same greedy join chain — "b within 3 hops of a, b points at c,
      // and a does NOT point at c directly" (the multi-hop-only
      // recommendation shape); closure built once (hi-1 checkpointed
      // join rounds). The selectivity predicate on `a` is DECLARED to
      // find (the closure's eager checkpoint is an optimizer barrier, so an outer .filter could never reach the closure
      // build — the restrict contract seeds it with only the wanted
      // sources; find(e,p,restrict) ≡ find(e,p).filter(...) by the
      // MotifsSpec property)
      Motifs.find(DerivedGraphs.small(s, dir), "(a)-[1..3]-(b); (b)-(c); !(a)-(c)",
          restrict = Map("a" -> (_ % 25 === 0)))
        .orderBy("a", "b", "c"),
      Sql(Motifs.findSql(DerivedGraphs.smallSql,
      "(a)-[1..3]-(b); (b)-(c); !(a)-(c)", extraWhere = "a % 25 = 0", orderBy = "a, b, c"))),
    Query("g22_bipartite", (s, dir) => // 2-colorability per component via
      // parity-BFS fixpoint: a vertex reachable from its component root
      // with both parities witnesses an odd cycle; state bounded at 2|V|
      // (vertex, parity) rows, vertex-sized exchanges per superstep
      Analytics.bipartiteCheck(DerivedGraphs.small(s, dir)),
      Sql(Analytics.bipartiteCheckSql(DerivedGraphs.smallSql))),
    Query("g13_partitioned_catalog", (s, dir) => {
      // the single-partitioned-table catalog layout bound to the gate:
      // write two graphs into ONE graph_name-partitioned table, then run
      // the cross-graph single-scan analytics the per-directory layout
      // cannot express; the oracle computes the same per-graph aggregates
      // straight from the source derivation. Fixed per-process dir (reps
      // take the modify path), shutdown-hook cleaned like g10's.
      val root = IndexCache.keptRoot("pcat")
      val cat = new GraphCatalog(s, root.resolve("pgraphs").toString)
      val e = DerivedGraphs.small(s, dir)
      def put(name: String, df: DataFrame): Unit =
        if (cat.existsPartitioned(name)) cat.modifyGraphPartitioned(name, df)
        else cat.addGraphPartitioned(name, df)
      put("even", e.filter(col("src") % 2 === 0))
      put("odd", e.filter(col("src") % 2 === 1))
      cat.allGraphsPartitioned()
        .groupBy("graph_name")
        .agg(count(lit(1)).as("n_edges"), sum(col("src") + col("dst")).as("sum_ids"))
        .orderBy("graph_name")
    },
      // round-trip through the partitioned
      // catalog is semantics-preserving, so the oracle derives the same
      // per-graph aggregates directly from the edge derivation
      Sql(s"""WITH e AS (${DerivedGraphs.smallSql})
         |SELECT CASE WHEN src % 2 = 0 THEN 'even' ELSE 'odd' END AS graph_name,
         |       COUNT(*) AS n_edges, SUM(src + dst)::BIGINT AS sum_ids
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("g16_partitioned_bfs", (s, dir) => {
      // a traversal THROUGH the partitioned-catalog layout (g13 gates only
      // the cross-graph aggregates): BFS over one of two graphs stored in
      // the same graph_name-partitioned table — the traversal's edge scan
      // partition-prunes to the named graph (asserted structurally in
      // GraphCatalogSpec); the oracle runs the same recursive CTE over the
      // identically-filtered derivation
      val root = IndexCache.keptRoot("pbfs")
      val cat = new GraphCatalog(s, root.resolve("pgraphs").toString)
      val e = DerivedGraphs.small(s, dir)
      def put(name: String, df: DataFrame): Unit =
        if (cat.existsPartitioned(name)) cat.modifyGraphPartitioned(name, df)
        else cat.addGraphPartitioned(name, df)
      put("even", e.filter(col("src") % 2 === 0))
      put("odd", e.filter(col("src") % 2 === 1))
      cat.bfsPartitioned("even", start = 0L, maxDepth = 12)
    },
      Sql(s"""WITH RECURSIVE e AS (SELECT src, dst FROM (${DerivedGraphs.smallSql}) t WHERE src % 2 = 0),
         |walk(vertex, level) AS (
         |  SELECT CAST(0 AS BIGINT) AS vertex, 0 AS level
         |  UNION
         |  SELECT e.dst, walk.level + 1 FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < 12)
         |SELECT vertex, CAST(MIN(level) AS INT) AS level FROM walk GROUP BY vertex ORDER BY level, vertex""".stripMargin)),
    Query("g33_edge_upsert", (s, dir) => {
      // edge-level graph mutation bound to the CoW MERGE: build the even
      // graph, upsert a change-set (delete every dst%3==0 edge, insert a
      // fresh 2-edge chain from the BFS root), then traverse the MUTATED
      // graph — exercising mutate→read end to end. graph_name is both
      // partition column and merge key, so only this graph's partition is
      // rewritten (the sibling graph's bytes are asserted stable in
      // GraphCatalogSpec). Oracle: recursive-CTE BFS over the identical
      // delete/insert derivation. Fixed per-process dir; reps reset the
      // graph through the modify path, so the mutation is idempotent.
      val root = IndexCache.keptRoot("gups")
      val cat = new GraphCatalog(s, root.resolve("pgraphs").toString)
      val e = DerivedGraphs.small(s, dir)
      def put(name: String, df: DataFrame): Unit =
        if (cat.existsPartitioned(name)) cat.modifyGraphPartitioned(name, df)
        else cat.addGraphPartitioned(name, df)
      put("mut", e.filter(col("src") % 2 === 0))
      put("other", e.filter(col("src") % 2 === 1))
      val dels = e.filter(col("src") % 2 === 0 && col("dst") % 3 === 0)
        .select(col("src"), col("dst"), lit(true).as("is_delete"))
      val ins = s.createDataFrame(Seq((0L, 1498L, false), (1498L, 1496L, false)))
        .toDF("src", "dst", "is_delete")
        // keep the change-set key-unique: an inserted pair may already be a
        // deleted pair's key in the derived graph
        .join(dels.select("src", "dst"), Seq("src", "dst"), "left_anti")
      cat.upsertEdges("mut", dels.unionByName(ins), Some("is_delete"))
      cat.bfsPartitioned("mut", start = 0L, maxDepth = 12)
    },
      // the same delete/insert derivation applied in SQL:
      // even graph minus dst%3==0 edges plus the literal 2-edge chain,
      // then g16's recursive-CTE BFS from 0
      Sql(s"""WITH RECURSIVE e AS (
         |  SELECT src, dst FROM (${DerivedGraphs.smallSql}) t WHERE src % 2 = 0 AND dst % 3 <> 0
         |  UNION
         |  SELECT CAST(v.s AS BIGINT), CAST(v.d AS BIGINT) FROM (VALUES (0, 1498), (1498, 1496)) v(s, d)),
         |walk(vertex, level) AS (
         |  SELECT CAST(0 AS BIGINT) AS vertex, 0 AS level
         |  UNION
         |  SELECT e.dst, walk.level + 1 FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < 12)
         |SELECT vertex, CAST(MIN(level) AS INT) AS level FROM walk GROUP BY vertex ORDER BY level, vertex""".stripMargin)),
    Query("g34_property_bfs", (s, dir) => {
      // property-graph surface: edges stored WITH an attribute column in
      // the catalog, then a traversal over the attribute-FILTERED subgraph
      // ("BFS only over etype=0 edges") — the predicate is applied before
      // the Pregel build and pushed down to the parquet edge scan
      // (asserted structurally in GraphCatalogSpec); oracle = recursive
      // CTE over the identically-filtered derivation. Fixed per-process
      // dir; reps take the modify path like g13.
      val root = IndexCache.keptRoot("pprop")
      val cat = new GraphCatalog(s, root.resolve("graphs").toString)
      val e = DerivedGraphs.small(s, dir)
        .withColumn("etype", (col("src") + col("dst")) % 3)
      if (cat.exists("props")) cat.modifyGraph("props", e)
      else cat.addGraph("props", e)
      cat.bfs("props", start = 0L, maxDepth = 12,
        edgeFilter = Some(col("etype") === 0))
    },
      // BFS over the etype=0 subgraph: same filter on
      // the same derivation, g16's recursive-CTE walk
      Sql(s"""WITH RECURSIVE e AS (
         |  SELECT src, dst FROM (${DerivedGraphs.smallSql}) t WHERE (src + dst) % 3 = 0),
         |walk(vertex, level) AS (
         |  SELECT CAST(0 AS BIGINT) AS vertex, 0 AS level
         |  UNION
         |  SELECT e.dst, walk.level + 1 FROM walk JOIN e ON e.src = walk.vertex WHERE walk.level < 12)
         |SELECT vertex, CAST(MIN(level) AS INT) AS level FROM walk GROUP BY vertex ORDER BY level, vertex""".stripMargin)),
    Query("g46_incremental_degrees", (s, dir) => {
      // incremental VIEW MAINTENANCE off the commit log's CDF: the degree
      // view is built once at v0 and advanced to the head purely through
      // changesBetween — the shard-sized change set, never a re-scan of
      // the edge table (the 100 TB "graph changed, refresh the analytics"
      // answer). Three committed versions: v0 = dst%5!=0 edges, v1 =
      // append the rest (inserts), v2 = overwrite dropping src%7==0
      // (deletes). Oracle = full degree recompute over the final set.
      val root = IndexCache.freshRoot("ideg")
      val t = new graft.operators.CommitTable(s, root.resolve("edges").toString, "src")
      val e = DerivedGraphs.small(s, dir)
      t.overwrite(e.filter(col("dst") % 5 =!= 0))
      t.append(e.filter(col("dst") % 5 === 0))
      t.overwrite(e.filter(col("src") % 7 =!= 0))
      graft.graph.IncrementalViews.maintainedDegrees(t, 0L, 2L).orderBy("vertex")
    },
      // full recompute over the FINAL edge set —
      // the maintained view must be indistinguishable from it
      Sql(s"""WITH e AS (SELECT src, dst FROM (${DerivedGraphs.smallSql}) t WHERE src % 7 <> 0),
         |o AS (SELECT src AS vertex, COUNT(*)::BIGINT AS out_degree FROM e GROUP BY 1),
         |i AS (SELECT dst AS vertex, COUNT(*)::BIGINT AS in_degree FROM e GROUP BY 1)
         |SELECT COALESCE(o.vertex, i.vertex) AS vertex,
         |       COALESCE(out_degree, 0)::BIGINT AS out_degree,
         |       COALESCE(in_degree, 0)::BIGINT AS in_degree
         |FROM o FULL OUTER JOIN i ON o.vertex = i.vertex ORDER BY vertex""".stripMargin)),
    Query("g58_incremental_cc", (s, dir) => {
      // insert-monotone incremental CONNECTED COMPONENTS off the CDF:
      // inserted edges contract to their current labels, CC runs on that
      // delta-sized super graph only, one broadcast relabel join — the
      // edge table is never rescanned. v0 = dst%5!=0 edges, v1 = append
      // the rest; view advanced 0 -> 1. Oracle = full recompute closure
      // over the final edge set. (Deletions refuse loudly — suite.)
      val root = IndexCache.freshRoot("icc")
      val t = new graft.operators.CommitTable(s, root.resolve("edges").toString, "src")
      val e = DerivedGraphs.small(s, dir)
      t.overwrite(e.filter(col("dst") % 5 =!= 0))
      t.append(e.filter(col("dst") % 5 === 0))
      graft.graph.IncrementalViews.maintainedComponents(t, 0L, 1L).orderBy("vertex")
    },
      // full recompute closure over the FINAL edge
      // set — the maintained (delta-merged) view must be indistinguishable
      Sql(s"""WITH RECURSIVE e AS (${DerivedGraphs.smallSql}),
         |ue AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
         |v AS (SELECT a AS vertex FROM ue UNION SELECT b AS vertex FROM ue),
         |r(vertex, reach) AS (
         |  SELECT vertex, vertex FROM v
         |  UNION
         |  SELECT r.vertex, ue.b FROM r JOIN ue ON ue.a = r.reach)
         |SELECT vertex, MIN(reach) AS component FROM r GROUP BY vertex ORDER BY vertex""".stripMargin)),
    Query("g55_assortativity", (s, dir) =>
      // Newman degree assortativity: do hubs attach to hubs? Three exact
      // BIGINT moments in one degree-joined edge pass; the correlation is
      // cross-multiplied to two exact integers so the only float is the
      // final 1-row division (round6-normalized)
      Analytics.degreeAssortativity(DerivedGraphs.small(s, dir)),
      // identical canonical undirected edge set,
      // identical integer moments, identical cross-multiplied division
      Sql(Analytics.degreeAssortativitySql(DerivedGraphs.smallSql))),
    Query("g56_reciprocity", (s, dir) =>
      // directed-edge reciprocity over small ∪ reversed(src%3=0): the
      // overlay guarantees a non-trivial reciprocal subset; one distinct
      // pass + one reversed-key self-semi-join
      Analytics.reciprocity {
        val e = DerivedGraphs.small(s, dir)
        e.union(e.filter(col("src") % 3 === 0)
          .select(col("dst").as("src"), col("src").as("dst")))
      },
      // same derivation ∪ the same partial reverse
      Sql(Analytics.reciprocitySql(
        s"SELECT src, dst FROM (${DerivedGraphs.smallSql}) e0 UNION ALL " +
        s"SELECT dst AS src, src AS dst FROM (${DerivedGraphs.smallSql}) e1 WHERE src % 3 = 0"))),
    Query("g54_distance_index", (s, dir) => {
      // persisted landmark distance index ("build once, query many" — the
      // graph twin of the s12 IVF index): two landmarkBfs Pregel runs
      // (forward + reversed edges) land as commit-log tables; every
      // dist(u,v) query is then min_l d(u→l)+d(l→v) — two index joins,
      // no traversal at query time (suite plan-asserts no RDD scan)
      val root = IndexCache.freshRoot("dix")
      graft.graph.DistanceIndex.build(DerivedGraphs.small(s, dir),
        root.toString, landmarks = Seq(0L, 7L, 42L, 100L), maxDepth = 12)
      val pairs = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("u"),
        ((col("n_nationkey") * 53 + 11) % DerivedGraphs.SmallMod).as("v"))
      graft.graph.DistanceIndex.queryUpperBounds(s, root.toString, pairs)
        .orderBy("u", "v")
    },
      // same two hop-bounded BFS closures (forward
      // + reversed recursive CTEs) and the identical min-plus bound over
      // the identical nation-derived pair set
      Sql((graft.graph.DistanceIndex.queryUpperBoundsSql(
        DerivedGraphs.smallSql, landmarks = Seq(0L, 7L, 42L, 100L),
        pairsSql = s"SELECT n_nationkey::BIGINT AS u, " +
          s"((n_nationkey * 53 + 11) % ${DerivedGraphs.SmallMod})::BIGINT AS v FROM nation",
        maxDepth = 12) + " ORDER BY 1, 2"))),
    Query("g53_incremental_triangles", (s, dir) => {
      // NONLINEAR incremental view maintenance: triangle counts advanced
      // off the CDF — the delta probes N(a) ∩ N(b) around the changed
      // pairs only (touching(new) − touching(old)), never recounting the
      // graph; same three-version history as g46. Oracle = full triangle
      // recompute over the final edge set.
      val root = IndexCache.freshRoot("itri")
      val t = new graft.operators.CommitTable(s, root.resolve("edges").toString, "src")
      val e = DerivedGraphs.small(s, dir)
      t.overwrite(e.filter(col("dst") % 5 =!= 0))
      t.append(e.filter(col("dst") % 5 === 0))
      t.overwrite(e.filter(col("src") % 7 =!= 0))
      graft.graph.IncrementalViews.maintainedTriangles(t, 0L, 2L).orderBy("vertex")
    },
      // full triangle recompute over the
      // FINAL edge set (the id-oriented wedge derivation g5's family
      // uses) — the maintained view must be indistinguishable from it
      Sql(s"""WITH e AS (SELECT src, dst FROM (${DerivedGraphs.smallSql}) t WHERE src % 7 <> 0),
         |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
         |  WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.a = e1.b AND e3.b = e2.b))
         |SELECT vertex, COUNT(*)::BIGINT AS triangles FROM (
         |  SELECT x AS vertex FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |GROUP BY vertex ORDER BY vertex""".stripMargin)),
    Query("g52_hyperball", (s, dir) =>
      // HyperBall: per-vertex 8-hop neighborhood size estimated by HLL
      // registers propagated along out-edges (register-wise max merge) —
      // the tractable reachability profile at 10¹² edges, where exact
      // closures are quadratic; registers are pure-integer algebra, the
      // estimate one fixed-form expression, mirrored exactly
      Analytics.hyperBall(DerivedGraphs.small(s, dir), t = 8),
      Derived(in => values("vertex" -> "BIGINT", "ball_e3" -> "BIGINT")(
        SequentialModel.hyperBall(in.smallEdges, t = 8).toSeq.sorted, "vertex"))),
    Query("g57_distance_profile", (s, dir) =>
      // the graph's distance distribution via HyperBall: N(t) = Σ ball
      // sizes for t = 0..8 + the effective-diameter flag (smallest t
      // covering 90% of reachable pairs, by integer cross-multiply) —
      // the Boldi–Vigna headline statistic; per round the added cost
      // over g52 is ONE 1-row aggregate
      Analytics.neighborhoodFunction(DerivedGraphs.small(s, dir), tMax = 8),
      Derived(in => values("t" -> "BIGINT", "npairs_e3" -> "BIGINT", "is_eff" -> "BIGINT")(
        SequentialModel.neighborhoodFunction(in.smallEdges, tMax = 8), "t"))),
    Query("g50_matching", (s, dir) =>
      // maximal matching (MIS on the line graph), deterministic parallel
      // greedy: per round the (π,a,b)-minimal active edge at BOTH
      // endpoints matches, then its endpoints deactivate; equals
      // sequential greedy in priority order (the independent oracle);
      // matched endpoints = the classic 2-approx vertex cover
      Analytics.maximalMatching(DerivedGraphs.small(s, dir)),
      Derived(in => values("a" -> "BIGINT", "b" -> "BIGINT")(
        SequentialModel.greedyMatching(in.smallEdges), "a, b"))),
    Query("g51_coreness", (s, dir) =>
      // FULL core decomposition (g14 answers one k): H-index fixpoint
      // from c=deg as a GraphX loop — per round neighbor values gathered
      // by aggregateMessages, the H-index taken in the vertex join, one
      // job that counts changed vertices; oracle = independent
      // Batagelj–Zaversnik min-degree peeling
      Analytics.coreness(DerivedGraphs.small(s, dir)),
      Derived(in => values("vertex" -> "BIGINT", "coreness" -> "BIGINT")(
        SequentialModel.coreness(in.smallEdges).toSeq.sorted, "vertex"))),
    Query("g47_mis", (s, dir) =>
      // maximal independent set, deterministic-Luby rounds: (π, id)
      // local minima join per round, then deactivate with their whole
      // neighborhood — O(log n) expected edge passes; the fixpoint
      // provably equals the sequential greedy in (π, id) order, which is
      // the independent VALUES oracle (independence + maximality are
      // additionally property-asserted in-suite)
      Analytics.maximalIndependentSet(DerivedGraphs.small(s, dir)),
      Derived(in => values("vertex" -> "BIGINT")(
        SequentialModel.greedyMis(in.smallEdges), "vertex"))),
    Query("g48_coloring", (s, dir) =>
      // greedy graph coloring via Jones–Plassmann scheduling: a vertex
      // colors when all smaller-(π,id) neighbors are colored, taking the
      // mex of their colors inside one fold-aggregate — result equals
      // sequential greedy in priority order (the independent oracle);
      // rounds = longest priority-decreasing path, O(log n) expected
      Analytics.greedyColoring(DerivedGraphs.small(s, dir)),
      Derived(in => values("vertex" -> "BIGINT", "color" -> "BIGINT")(
        SequentialModel.greedyColoring(in.smallEdges).toSeq.sorted, "vertex"))),
    Query("g49_densest", (s, dir) =>
      // densest-subgraph 2(1+ε)-approx by batch peeling (ε=1/10): each
      // round drops every vertex with 10·deg·V ≤ 22·E (exact integers),
      // keeping the best-density snapshot by cross-multiplied compare;
      // O(log V) rounds, each one degree-agg + semi-join — the classic
      // MapReduce densest-subgraph plan
      Analytics.densestSubgraph(DerivedGraphs.small(s, dir)),
      Derived { in =>
        val (r, nv, ne, d6) = SequentialModel.densestSubgraph(in.smallEdges)
        s"""SELECT CAST($r AS BIGINT) AS best_round, CAST($nv AS BIGINT) AS n_vertices,
           |CAST($ne AS BIGINT) AS n_edges, CAST($d6 AS BIGINT) AS density_e6""".stripMargin
      }),
    Query("g25_clustering_coeff", (s, dir) =>
      // local clustering coefficient in integer millionths (pure integer
      // division over triangle and degree counts — no float anywhere)
      Analytics.clusteringCoefficient(DerivedGraphs.small(s, dir)),
      Sql(Analytics.clusteringCoefficientSql(DerivedGraphs.smallSql))),
    Query("g30_weighted_pagerank", (s, dir) => // edge-weighted PageRank: the
      // damped walk follows out-edges proportionally to INTEGER weights
      // (derived (src+dst)%5+1 — deterministic, 1..5), so the transition
      // matrix divides exact integers and is engine-identical; same
      // fixed-iteration contract and unrolled-CTE mirror as g7
      Analytics.weightedPageRank(
        DerivedGraphs.small(s, dir)
          .withColumn("ew0", expr("pmod(src + dst, 5) + 1")),
        weightCol = "ew0", numIter = 10),
      Sql(Analytics.weightedPageRankSql(DerivedGraphs.smallSql,
      weightSql = "(src + dst) % 5 + 1", numIter = 10))),
    Query("g29_harmonic", (s, dir) =>
      // harmonic centrality (disconnection-robust closeness: unreachable
      // vertices contribute 0 instead of poisoning the ratio), integer
      // permille, same one-Pregel-run-for-all-seeds machinery as g24 on
      // a disjoint seed set
      Analytics.harmonicProfile(DerivedGraphs.small(s, dir),
        seeds = Seq(10L, 11L, 12L, 13L), maxDepth = 12),
      Sql(Analytics.harmonicProfileSql(DerivedGraphs.smallSql,
      seeds = Seq(10L, 11L, 12L, 13L), maxDepth = 12))),
    Query("g36_modularity", (s, dir) => {
      // Newman modularity of the g15 LPA communities: the quality score a
      // community-detection loop optimizes, exposed as a standalone scorer
      // for ANY labeling. Masses are exact integers; Q_c is two divisions
      // on them (bit-identical cross-engine) rounded 1e-6. Oracle: the
      // sequential-model LPA labels as VALUES (the g15 discipline) scored
      // by the same SQL masses over the edge derivation
      val e = DerivedGraphs.small(s, dir)
      Analytics.modularity(e, Analytics.labelPropagation(e, numIter = 5))
    },
      Derived(in => Analytics.modularitySql(DerivedGraphs.smallSql,
        values("v" -> "BIGINT", "l" -> "BIGINT")(labelPropagation5(in))))),
    Query("g42_spanning_forest", (s, dir) =>
      // minimum spanning forest (Borůvka — the parallel MST: every
      // component picks its min outgoing edge per round, components
      // halve, ≤ log|V| edge passes); unique derived weights make the
      // forest unique, so the independent sequential-Kruskal VALUES
      // oracle agrees edge-for-edge
      Analytics.minimumSpanningForest(
        DerivedGraphs.small(s, dir).withColumn("w",
          expr("least(src, dst) * 1499 + greatest(src, dst)"))),
      Derived { in =>
        val weighted = in.smallEdges.map { case (s, d) =>
          (s, d, math.min(s, d) * 1499 + math.max(s, d)) }
        val msf = SequentialModel.minimumSpanningForest(weighted)
          .sortBy { case (a, b, _) => (a, b) }
        values("a" -> "BIGINT", "b" -> "BIGINT", "w" -> "BIGINT")(msf, "a, b")
      }),
    Query("g41_louvain_sweep", (s, dir) =>
      // Louvain local-move phase, deterministic synchronous form: every
      // vertex moves to the neighbor community with the best EXACT INTEGER
      // move score (the ΔQ numerator cross-multiplied by 2m² — the e27
      // trick), so the argmax needs no float discipline; optimizes the
      // objective g36 scores, where g15's LPA only chases majorities;
      // parity-alternating half-sweeps (4 rounds = 2 full alternations)
      // break the simultaneous-move oscillation; a GraphX loop where
      // neighbors offer (label, mass, w) and each vertex moves on local
      // data, one job per round
      Analytics.louvainSweep(DerivedGraphs.small(s, dir), rounds = 4),
      Derived(in => values("vertex" -> "BIGINT", "label" -> "BIGINT")(
        SequentialModel.louvainSweep(in.smallEdges, rounds = 4).toSeq.sorted, "vertex"))),
    Query("g44_louvain_full", (s, dir) => // FULL two-phase Louvain: g41's
      // sweep, then community CONTRACTION (inter-community weights sum,
      // intra mass becomes the super-vertex self-loop) and a re-sweep of
      // the coarse weighted graph — a level-2 move relocates an entire
      // level-1 community at once, the multi-level refinement the sweep
      // alone can't express; the contraction maps the edges through the
      // level-1 labels, and labels unfold through the level-1 assignment;
      // exact-integer scores at both levels, vs an independent sequential
      // mirror
      Analytics.louvain(DerivedGraphs.small(s, dir), rounds = 4),
      Derived(in => values("vertex" -> "BIGINT", "label" -> "BIGINT")(
        SequentialModel.louvain(in.smallEdges, rounds = 4).toSeq.sorted, "vertex"))),
    Query("g40_temporal_reach", (s, dir) =>
      // time-respecting earliest-arrival reachability: an edge is usable
      // only at its timestamp t >= arrival(src) — static reachability
      // answers this WRONG; deterministic derived edge times so the
      // hop-bounded recursive-CTE oracle enumerates the same fixpoint
      Traversals.temporalReachability(
        DerivedGraphs.small(s, dir)
          .withColumn("t", expr("(src * 3 + dst) % 16")),
        start = 0L, startTime = 0L, maxHops = 12),
      Sql(Traversals.temporalReachabilitySql(
      s"SELECT src, dst, (src * 3 + dst) % 16 AS t FROM (${DerivedGraphs.smallSql})",
      start = 0L, startTime = 0L, maxHops = 12))),
    Query("g39_neighbor_stats", (s, dir) =>
      // one-hop neighborhood feature aggregation (GraphSAGE-style mean
      // step over out-degree features): one degree agg + one edge-vs-
      // degree join + one src-keyed agg, all map-side combinable
      Analytics.neighborStats(DerivedGraphs.small(s, dir)),
      Sql(Analytics.neighborStatsSql(DerivedGraphs.smallSql))),
    Query("g37_eccentricity", (s, dir) =>
      // per-seed eccentricity (max hop distance) + reach — the sampled
      // diameter/radius profile; same one-landmarkBfs-run-for-all-seeds
      // machinery as g24/g29, integer-exact compare
      Analytics.eccentricityProfile(DerivedGraphs.small(s, dir),
        seeds = Seq(0L, 1L, 2L, 3L), maxDepth = 12),
      Sql(Analytics.eccentricityProfileSql(DerivedGraphs.smallSql,
      seeds = Seq(0L, 1L, 2L, 3L), maxDepth = 12))),
    Query("g38_shortest_path", (s, dir) =>
      // shortest-path RECONSTRUCTION: the actual hop sequence 0 → the
      // highest-id reachable vertex, canonical min-id predecessor at each
      // level so the recursive-CTE mirror derives the identical path;
      // one BFS + one level-aligned min-parent join, then broadcast
      // single-row walk-back joins in one lazy plan
      Traversals.shortestPathTo(DerivedGraphs.small(s, dir), start = 0L,
        maxDepth = 12),
      Sql(Traversals.shortestPathToSql(DerivedGraphs.smallSql,
      start = 0L, maxDepth = 12))),
    Query("g24_closeness", (s, dir) =>
      // seed-sampled closeness profile: integer (n_reached, sum_dist) per
      // seed, one Pregel BFS each over the shared edge relation; the ratio
      // stays with the caller so the compare is integer-exact
      Analytics.closenessProfile(DerivedGraphs.small(s, dir),
        seeds = Seq(0L, 1L, 2L, 3L), maxDepth = 12),
      Sql(Analytics.closenessProfileSql(DerivedGraphs.smallSql,
      seeds = Seq(0L, 1L, 2L, 3L), maxDepth = 12))),
    Query("g23_partitioned_dfs", (s, dir) => {
      // DFS through the same partitioned layout (closes the g16 gap: BFS was
      // the only traversal gated over the graph_name-partitioned table).
      // Preorder is not SQL-expressible, so the oracle is SequentialModel's
      // independent recursion over the identically-filtered edge set,
      // emitted as VALUES (the g8 discipline); the traversal's edge scan
      // partition-prunes to the named graph (GraphCatalogSpec structural
      // assert on dfsPartitioned's scan)
      val root = IndexCache.keptRoot("pdfs")
      val cat = new GraphCatalog(s, root.resolve("pgraphs").toString)
      val e = DerivedGraphs.small(s, dir)
      def put(name: String, df: DataFrame): Unit =
        if (cat.existsPartitioned(name)) cat.modifyGraphPartitioned(name, df)
        else cat.addGraphPartitioned(name, df)
      put("even", e.filter(col("src") % 2 === 0))
      put("odd", e.filter(col("src") % 2 === 1))
      cat.dfsPartitioned("even", start = 0L)
    },
      Derived(in => values("vertex" -> "BIGINT", "pos" -> "INT")(SequentialModel.dfsPreorder(
        in.smallEdges.filter(_._1 % 2 == 0), start = 0L).zipWithIndex, "pos"))),
    Query("g10_matrix_roundtrip", (s, dir) => {
      // the reference's full write path (op 1, primaryServer.c:40-63):
      // catalog add -> dense-matrix text file -> re-ingest -> analytics;
      // oracle computes the same degrees straight from the source table.
      // Fixed per-process dir (re-runs drop + overwrite), recursively
      // deleted by a shutdown hook (deleteOnExit can't remove non-empty
      // dirs) so repeated bench/verify runs don't accumulate temp garbage.
      val root = IndexCache.keptRoot("rt")
      val cat = new GraphCatalog(s, root.resolve("graphs").toString)
      cat.dropGraph("rt")
      val oneBased = DerivedGraphs.small(s, dir)
        .select((col("src") + 1).as("src"), (col("dst") + 1).as("dst"))
      cat.addGraph("rt", oneBased)
      val mtx = root.resolve("rt.txt").toString
      MatrixFormat.writeMatrix(s, cat.graph("rt"), mtx)
      val back = MatrixFormat.readEdges(s, mtx)
        .select((col("src") - 1).as("src"), (col("dst") - 1).as("dst"))
      Analytics.degrees(back, dedup = false).orderBy("vertex")
    },
      Sql(s"""WITH e AS (${DerivedGraphs.smallSql}),
         |o AS (SELECT src AS vertex, COUNT(*) AS out_degree FROM e GROUP BY 1),
         |i AS (SELECT dst AS vertex, COUNT(*) AS in_degree FROM e GROUP BY 1)
         |SELECT COALESCE(o.vertex, i.vertex) AS vertex,
         |       COALESCE(out_degree, 0) AS out_degree, COALESCE(in_degree, 0) AS in_degree
         |FROM o FULL OUTER JOIN i ON o.vertex = i.vertex ORDER BY vertex""".stripMargin)),
    Query("g61_local_community", (s, dir) => // Andersen–Chung–Lang local
      // community sweep: PPR/degree ranking from seed 0, prefix
      // conductance profile with the best cut flagged — "find MY
      // community without touching the rest of the graph"; integer
      // window algebra after the g18-contract ranking
      Analytics.localCommunitySweep(DerivedGraphs.small(s, dir), source = 0L),
      Sql(Analytics.localCommunitySweepSql(DerivedGraphs.smallSql, source = 0L))),
    Query("g60_rich_club", (s, dir) => // rich-club profile: density among
      // vertices of degree > k for k = 1..16 — "do the hubs form a
      // club?", the topology fingerprint next to g55's assortativity;
      // one degree pass + one annotated edge pass, kMax-row aggregates
      Analytics.richClub(DerivedGraphs.small(s, dir)),
      Sql(Analytics.richClubSql(DerivedGraphs.smallSql))))

  /** g15's labels, which g36 also scores. */
  private def labelPropagation5(in: OracleInput): Seq[(Long, Long)] =
    SequentialModel.labelPropagation(in.smallEdges, numIter = 5).toSeq.sorted

  /** The g1/g2 BFS plan, shared so the two queries stay one definition. */
  private def bigBfs(s: SparkSession, dir: String): DataFrame =
    Traversals.bfs(DerivedGraphs.big(s, dir), start = 0L, maxDepth = 12)
}
