package graft.graph

import org.apache.spark.graphx.{EdgeDirection, Pregel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph traversals, re-expressed Spark-first.
  *
  * Reference semantics (see SURVEY.md §2):
  *  - BFS is level-synchronous and includes the start vertex
  *    (`secondaryServer.c:111-179`, start recorded at `secondaryServer.c:380-385`).
  *    The reference's within-level order is a thread race; we canonicalize to
  *    ascending vertex id within level (SURVEY §2.2(2)).
  *  - DFS in the reference spawns a thread per unvisited neighbor and records
  *    only the vertices that spawned zero children — the traversal-tree leaves —
  *    excluding the start vertex (`secondaryServer.c:56-108`, leaf record at
  *    `secondaryServer.c:93-97`, start filtered at `secondaryServer.c:290`).
  *    We canonicalize to lowest-id-neighbor-first (SURVEY §2.2(1)) and expose
  *    both the full preorder (`dfsPreorder`) and the reference's leaf-set
  *    (`dfsLeaves`).
  *
  * Scale notes:
  *  - `bfs` / `multiSourceBfs`, `landmarkBfs`, the weighted SSSPs and
  *    `temporalReachability` run on GraphX Pregel through [[GraphLoop]]: the
  *    edge relation is placed ONCE (one shuffle) and stays resident; each
  *    superstep ships only frontier messages (changed vertices), not the edge
  *    table, and [[GraphLoop.run]] materializes the result and releases the
  *    graphs. At 100 TB x diameter-D a per-level DataFrame loop would pay D
  *    full-data shuffles; Pregel pays D message-sized exchanges. Supersteps
  *    ≡ the reference's recursion levels (`secondaryServer.c:154-161`).
  *  - DFS is inherently sequential (each step depends on the full visited set),
  *    so `dfsPreorder` is explicitly scoped to graphs whose *reachable
  *    subgraph* fits on the driver — faithful to the reference, whose graphs
  *    cap at 30 vertices (`utils.h:26`). For reachability at scale, use
  *    [[bfs]] (same visited set, level order instead of preorder).
  */
object Traversals {

  /** Level-synchronous BFS from `start` over `edges(src, dst)`.
    *
    * Returns `(vertex BIGINT, level INT)`, one row per reachable vertex with
    * its minimum hop distance, including `(start, 0)`; deterministic
    * regardless of execution order because min-distance is execution-invariant.
    *
    * @param maxDepth stop after this many supersteps (vertices farther than
    *                 maxDepth are omitted); Int.MaxValue for full closure.
    */
  def bfs(edges: DataFrame, start: Long, maxDepth: Int = Int.MaxValue): DataFrame =
    multiSourceBfs(edges, Seq(start), maxDepth)

  /** Multi-source BFS: level = min hops from any source; sources sit at level
    * 0. Pregel BSP — see scale notes above.
    */
  def multiSourceBfs(edges: DataFrame, sources: Seq[Long], maxDepth: Int = Int.MaxValue): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(sources.nonEmpty, "BFS requires at least one start vertex")

    val srcSet = sources.distinct.toSet
    // maxDepth = 0 short-circuit: sources at level 0, nothing else (Pregel
    // itself requires maxIterations > 0)
    if (maxDepth <= 0) {
      return srcSet.toSeq.sorted.map(v => (v, 0)).toDF("vertex", "level")
        .select(col("vertex"), col("level").cast("int").as("level"))
    }
    val INF = Int.MaxValue
    // Sources are seeded as explicit vertices so an isolated source still
    // reports (source, 0) — the reference records the start unconditionally
    // (`secondaryServer.c:380`). Other vertices materialize from the edges.
    val placed = GraphLoop.place(GraphLoop.edges(edges), INF, srcSet.toSeq.map(_ -> 0))
    GraphLoop.run(placed)(g =>
      Pregel(g, initialMsg = INF, maxIterations = maxDepth, activeDirection = EdgeDirection.Out)(
        vprog = (_, attr, msg) => math.min(attr, msg),
        sendMsg = t =>
          if (t.srcAttr != INF && t.srcAttr + 1 < t.dstAttr) Iterator((t.dstId, t.srcAttr + 1))
          else Iterator.empty,
        mergeMsg = math.min))(
      _.vertices.filter(_._2 != INF).toDF("vertex", "level")
        .select($"vertex", $"level".cast("int").as("level"))
        .orderBy("level", "vertex"))
  }

  /** Per-seed BFS levels for ALL seeds in ONE Pregel run (the GraphX
    * `ShortestPaths` landmark pattern, hop-bounded): vertex state is a
    * seed→level map, messages carry only IMPROVED entries, so a vertex's
    * state is at most |seeds| ints and the edge relation is traversed
    * once for the whole seed set — |seeds|× cheaper than one [[bfs]] per
    * seed, which is the difference that matters when closeness samples
    * dozens of landmarks over a 100 TB edge set. Output
    * `(seed, vertex, level)`, levels ≤ `maxDepth`, seeds report
    * themselves at level 0 (even isolated ones, matching [[bfs]]).
    */
  def landmarkBfs(edges: DataFrame, seeds: Seq[Long],
                  maxDepth: Int = Int.MaxValue): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(seeds.nonEmpty, "landmark BFS requires at least one seed")
    val seedSet = seeds.distinct.toSet
    type SPMap = Map[Long, Int]
    def merge(a: SPMap, b: SPMap): SPMap =
      (a.keySet ++ b.keySet).iterator.map(k =>
        k -> math.min(a.getOrElse(k, Int.MaxValue), b.getOrElse(k, Int.MaxValue))).toMap
    if (maxDepth <= 0) {
      return seedSet.toSeq.sorted.map(v => (v, v, 0)).toDF("seed", "vertex", "level")
        .select($"seed", $"vertex", $"level".cast("int").as("level"))
    }
    val placed = GraphLoop.place(GraphLoop.edges(edges), Map.empty[Long, Int],
      seedSet.toSeq.map(v => v -> Map(v -> 0)))
    GraphLoop.run(placed)(g =>
      Pregel(g, initialMsg = Map.empty[Long, Int], maxIterations = maxDepth,
        activeDirection = EdgeDirection.Out)(
        vprog = (_, attr, msg) => merge(attr, msg),
        sendMsg = t => {
          val improved = t.srcAttr.iterator
            .map { case (s, d) => s -> (d + 1) }
            .filter { case (s, d) => d < t.dstAttr.getOrElse(s, Int.MaxValue) }
            .toMap
          if (improved.nonEmpty) Iterator((t.dstId, improved)) else Iterator.empty
        },
        mergeMsg = merge))(
      _.vertices.flatMap { case (v, m) => m.iterator.map { case (s, d) => (s, v, d) } }
        .toDF("seed", "vertex", "level")
        .select($"seed", $"vertex", $"level".cast("int").as("level")))
  }

  /** Hop-bounded weighted single-source shortest paths (BSP Bellman-Ford):
    * `(vertex BIGINT, cost BIGINT)` = minimum total edge weight over paths
    * of at most `maxHops` edges from `start`, including `(start, 0)`.
    * Input `edges(src, dst, w)` with positive integral weights.
    *
    * Pregel with `maxIterations = maxHops` computes exactly the ≤maxHops-hop
    * minimum (superstep k relaxes paths of k edges — the synchronous
    * Bellman-Ford invariant), which is also what a hop-bounded recursive-CTE
    * oracle can express; pass `Int.MaxValue` for the full fixpoint (positive
    * weights ⇒ termination). Same scale shape as [[bfs]]: edges partitioned
    * once, supersteps exchange only improved-cost messages.
    */
  def weightedSssp(edges: DataFrame, start: Long, maxHops: Int = Int.MaxValue): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val INF = Long.MaxValue
    if (maxHops <= 0) return Seq((start, 0L)).toDF("vertex", "cost")
    val weighted = GraphLoop.edges(edges, "w").map { e =>
      require(e.attr > 0,
        s"weighted SSSP requires positive weights, got ${e.attr} on ${e.srcId}->${e.dstId}")
      e
    }
    GraphLoop.run(GraphLoop.place(weighted, INF, Seq(start -> 0L)))(g =>
      Pregel(g, initialMsg = INF, maxIterations = maxHops, activeDirection = EdgeDirection.Out)(
        vprog = (_, attr, msg) => math.min(attr, msg),
        sendMsg = t =>
          if (t.srcAttr != INF && t.srcAttr + t.attr < t.dstAttr) Iterator((t.dstId, t.srcAttr + t.attr))
          else Iterator.empty,
        mergeMsg = math.min))(
      _.vertices.filter(_._2 != INF).toDF("vertex", "cost").orderBy("vertex"))
  }

  /** UNBOUNDED weighted SSSP: the Bellman-Ford fixpoint, with the
    * convergence LOUDLY verified. [[weightedSssp]]'s hop bound answers the
    * ≤maxHops-hop question exactly, but as an approximation of the
    * unrestricted question it fails SILENTLY — a shortest path with more
    * hops than the bound returns the best bounded cost (or ∞), not the
    * true one. This variant runs the message-driven Pregel to its natural
    * fixpoint (positive weights ⇒ termination; supersteps stop when no
    * distance improves), capped at `maxRounds` as a runaway guard — and
    * then PROVES convergence with one edge-pass check: any edge still
    * relaxable (`cost(src) + w < cost(dst)`, unreached dst = ∞) means the
    * cap bit before the fixpoint, and that throws instead of returning a
    * wrong answer.
    *
    * Scale shape: [[weightedSssp]]'s (edges partitioned once, improved-cost
    * messages only) + one broadcast-sized join of the edge relation against
    * the result for the proof. `maxRounds` bounds supersteps = the hop
    * count of the longest shortest path, the inherent depth of the problem.
    */
  def weightedSsspFixpoint(edges: DataFrame, start: Long,
                           maxRounds: Int = 512): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val out = weightedSssp(edges, start, maxHops = maxRounds)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
    val violations = e
      .join(out.select(col("vertex").as("src"), col("cost").as("cs")), "src")
      .join(out.select(col("vertex").as("dst"), col("cost").as("cd")), Seq("dst"), "left_outer")
      .filter(col("cs") + col("w") < coalesce(col("cd"), lit(Long.MaxValue)))
      .limit(1).count()
    if (violations > 0)
      throw new IllegalStateException(
        s"weighted SSSP did not converge within $maxRounds rounds — an edge is " +
          "still relaxable; raise maxRounds (the graph has a shortest path with " +
          "more hops than the cap)")
    out
  }

  /** Vertices reachable from `start` (BFS visited set) as `(vertex BIGINT)`. */
  def reachable(edges: DataFrame, start: Long, maxDepth: Int = Int.MaxValue): DataFrame =
    bfs(edges, start, maxDepth).select("vertex")

  /** Deterministic sequential DFS preorder from `start`; lowest-id neighbor
    * first. Returns `(vertex BIGINT, pos INT)` with pos = 0-based visit order.
    *
    * Driver-side by design (see scale notes above): collects the FULL
    * distinct edge set to the driver, guarded by [[MaxDfsEdges]] — for
    * graphs beyond the cap, pre-filter the edge set (e.g. to a known
    * reachable region) or use [[bfs]] for reachability.
    */
  def dfsPreorder(edges: DataFrame, start: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = collectAdjacency(edges, start)
    val order = scala.collection.mutable.ArrayBuffer.empty[Long]
    val seen = scala.collection.mutable.HashSet.empty[Long]
    // explicit stack (recursion depth unbounded); push children in reverse
    // sorted order so the lowest id is popped first
    val stack = scala.collection.mutable.Stack[Long](start)
    while (stack.nonEmpty) {
      val v = stack.pop()
      if (!seen(v)) {
        seen += v
        order += v
        adj.getOrElse(v, Array.empty[Long]).reverseIterator.foreach { n =>
          if (!seen(n)) stack.push(n)
        }
      }
    }
    order.toSeq.zipWithIndex.map { case (v, i) => (v, i) }.toDF("vertex", "pos")
  }

  /** Reference leaf-set DFS semantics (`secondaryServer.c:93-97`): the
    * vertices whose visit spawned zero recursive calls — i.e. every neighbor
    * was already visited at the moment of the visit — excluding the start
    * vertex (`secondaryServer.c:290`). Deterministic lowest-id-first schedule.
    * Returns `(vertex BIGINT)` ordered by id.
    *
    * Iterative (explicit frame stack with per-frame spawned-child count), so a
    * path graph of millions of vertices cannot overflow the JVM stack — same
    * discipline as [[dfsPreorder]].
    */
  def dfsLeaves(edges: DataFrame, start: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = collectAdjacency(edges, start)
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val leaves = scala.collection.mutable.ArrayBuffer.empty[Long]
    // frame = (vertex, neighbor iterator, children spawned so far); a child is
    // "spawned" when the neighbor was unvisited at the moment we advance past
    // it — exactly the recursive reference semantics, sans recursion.
    final class Frame(val v: Long, val it: Iterator[Long]) { var spawned = 0 }
    def frame(v: Long) = new Frame(v, adj.getOrElse(v, Array.empty[Long]).iterator)
    seen += start
    val stack = scala.collection.mutable.Stack(frame(start))
    while (stack.nonEmpty) {
      val f = stack.top
      var pushed = false
      while (!pushed && f.it.hasNext) {
        val n = f.it.next()
        if (!seen(n)) {
          seen += n
          f.spawned += 1
          stack.push(frame(n))
          pushed = true
        }
      }
      if (!pushed) {
        stack.pop()
        if (f.spawned == 0 && f.v != start) leaves += f.v
      }
    }
    leaves.toSeq.sorted.map(Tuple1(_)).toDF("vertex")
  }

  /** Deterministic seeded random walks over `edges(src, dst)` — the
    * node2vec/DeepWalk sampling primitive (corpus → walk corpus →
    * skip-gram embeddings) and a graph-sampling workhorse. One walk per
    * start vertex (every distinct src with `src % startMod == 0`),
    * `numSteps` steps; at each step the walker at v moves to the
    * `r`-th of v's out-neighbors (sorted ascending), where
    * `r = 1 + hash60(start ⊕ step ⊕ v) mod outdeg(v)` — md5-derived
    * ([[graft.functions.Hashing.hash60]]), so the "randomness" is a pure
    * function of (start, step, v): reproducible across sessions, engines,
    * and partitionings, which is what makes the walk corpus cacheable and
    * the query oracle-checkable (true PRNG walks never cross-check). A
    * walker reaching a sink (no out-edges) stops early.
    *
    * Returns `(start, step, vertex)`, step 0 = the start itself.
    *
    * Scale shape: the ranked adjacency (`rn` within src, outdeg) is built
    * with ONE shuffle and persisted across steps; each step is then an
    * equi-join of the (walker-count-sized) frontier against it on
    * `(vertex, r)` — per step the exchange carries walkers, not edges.
    * All walks advance together (one join per step, not per walk), the
    * same BSP shape as [[bfs]].
    */
  def randomWalks(edges: DataFrame, numSteps: Int = 4, startMod: Long = 20L): DataFrame = {
    require(numSteps >= 1, s"randomWalks needs numSteps >= 1, got $numSteps")
    require(startMod >= 1, s"startMod must be positive, got $startMod")
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val ranked = e.select(col("src"), col("dst"),
        row_number().over(bySrc.orderBy("dst")).as("rn"),
        count(lit(1)).over(bySrc).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var cur = ranked.select(col("src").as("start")).distinct()
        .filter(col("start") % startMod === 0)
        .select(col("start"), lit(0L).as("step"), col("start").as("vertex"))
        .localCheckpoint(true)
      val steps = scala.collection.mutable.ArrayBuffer(cur)
      for (t <- 1 to numSteps) {
        val pick = graft.functions.Hashing.hash60(concat(
          col("start").cast("string"), lit("_"), lit(t.toString), lit("_"),
          col("vertex").cast("string")))
        cur = cur.join(ranked, cur("vertex") === ranked("src") &&
            ranked("rn") === pick % ranked("deg") + 1)
          .select(col("start"), lit(t.toLong).as("step"), col("dst").as("vertex"))
          .localCheckpoint(true) // truncate the per-step lineage
        steps += cur
      }
      steps.reduce(_ union _).orderBy("start", "step")
    } finally ranked.unpersist(blocking = false)
  }

  /** node2vec SECOND-ORDER biased walks (Grover & Leskovec 2016) — the
    * upgrade over [[randomWalks]]' first-order uniform steps: the next
    * hop is weighted by where the walk CAME from. From `v` with
    * predecessor `u`, neighbor `x` carries integer milli-weight
    *
    *   `1000000 div pE3`  if x = u            (the return parameter p),
    *   `1000`             if edge (u, x) exists (distance-1 "BFS-ish"),
    *   `1000000 div qE3`  otherwise            (distance-2 "DFS-ish", q);
    *
    * the pick is DETERMINISTIC weighted sampling: neighbors ranked by dst
    * carry cumulative weights, and the seeded 60-bit hash of
    * `(start, step, vertex, prev)` mod the total selects the unique
    * neighbor whose cumulative interval contains it — exactly the
    * alias-table draw, derandomized so the DuckDB mirror replays it
    * bit-for-bit. The first hop (no predecessor) is uniform, salted
    * differently from g21's walks. Walks follow OUT-edges and stop at
    * sinks (documented divergence from the paper's undirected setting).
    *
    * Returns `(start, step, vertex)` for starts ≡ 0 mod `startMod`.
    *
    * Scale shape: per step, the frontier (one row per live walk) joins
    * the out-adjacency — a frontier×degree expansion, the honest
    * node2vec cost (production systems pay the same through alias
    * tables) — then one per-walk window computes the cumulative pick;
    * the edge relation partitions once and is reused by every step, and
    * the "common neighbor" test is an equi-join against the same
    * relation, never an all-pairs construct.
    */
  def node2vecWalks(edges: DataFrame, numSteps: Int = 4, startMod: Long = 20L,
                    pE3: Long = 4000L, qE3: Long = 250L): DataFrame = {
    require(numSteps >= 1, s"node2vecWalks needs numSteps >= 1, got $numSteps")
    require(startMod >= 1, s"startMod must be positive, got $startMod")
    require(pE3 >= 1 && pE3 <= 1000000L && qE3 >= 1 && qE3 <= 1000000L,
      s"pE3/qE3 must be in [1, 1e6] so every weight stays >= 1, got $pE3/$qE3")
    val wRet = 1000000L / pE3
    val wFar = 1000000L / qE3
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val ranked = e.select(col("src"), col("dst"),
        row_number().over(bySrc.orderBy("dst")).as("rn"),
        count(lit(1)).over(bySrc).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val w0 = ranked.select(col("src").as("start")).distinct()
        .filter(col("start") % startMod === 0)
        .select(col("start"), lit(0L).as("step"), col("start").as("vertex"),
          lit(null).cast("long").as("prev"))
        .localCheckpoint(true)
      // first hop: uniform over out-neighbors (no predecessor to bias by)
      val pick1 = graft.functions.Hashing.hash60(concat(
        col("start").cast("string"), lit("_n2v1_"), col("vertex").cast("string")))
      var cur = w0.join(ranked, w0("vertex") === ranked("src") &&
          ranked("rn") === pick1 % ranked("deg") + 1)
        .select(col("start"), lit(1L).as("step"), col("dst").as("vertex"),
          w0("vertex").as("prev"))
        .localCheckpoint(true)
      val steps = scala.collection.mutable.ArrayBuffer(w0, cur)
      val common = e.select(col("src").as("p_src"), col("dst").as("p_dst"))
      for (t <- 2 to numSteps) {
        val opts = cur.join(ranked, cur("vertex") === ranked("src"))
          .join(common,
            cur("prev") === col("p_src") && ranked("dst") === col("p_dst"), "left_outer")
          .select(col("start"), cur("vertex").as("v"), col("prev"), col("dst"),
            when(col("dst") === col("prev"), wRet)
              .when(col("p_src").isNotNull, 1000L)
              .otherwise(wFar).as("w"))
        val byWalk = org.apache.spark.sql.expressions.Window.partitionBy("start")
        val r = graft.functions.Hashing.hash60(concat(
          col("start").cast("string"), lit(s"_n2v${t}_"),
          col("v").cast("string"), lit("_"), col("prev").cast("string")))
        cur = opts
          .withColumn("cw", sum(col("w")).over(byWalk.orderBy("dst")))
          .withColumn("tot", sum(col("w")).over(byWalk))
          .withColumn("r", r % col("tot"))
          .filter(col("r") >= col("cw") - col("w") && col("r") < col("cw"))
          .select(col("start"), lit(t.toLong).as("step"), col("dst").as("vertex"),
            col("v").as("prev"))
          .localCheckpoint(true) // truncate the per-step lineage
        steps += cur
      }
      steps.map(_.select("start", "step", "vertex")).reduce(_ union _)
        .orderBy("start", "step")
    } finally ranked.unpersist(blocking = false)
  }

  /** DuckDB mirror of [[node2vecWalks]]: the step loop unrolled as
    * chained CTEs — identical ranked adjacency, uniform first hop,
    * per-step bias weights, cumulative-interval pick, and md5 hash.
    */
  def node2vecWalksSql(edgeSql: String, numSteps: Int = 4, startMod: Long = 20L,
                       pE3: Long = 4000L, qE3: Long = 250L): String = {
    require(numSteps >= 1 && startMod >= 1)
    require(pE3 >= 1 && pE3 <= 1000000L && qE3 >= 1 && qE3 <= 1000000L)
    val wRet = 1000000L / pE3
    val wFar = 1000000L / qE3
    val b = new StringBuilder
    b ++= s"WITH e AS (SELECT DISTINCT src, dst FROM ($edgeSql) t),\n"
    b ++= "ranked AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn,\n"
    b ++= "                  COUNT(*) OVER (PARTITION BY src) AS deg FROM e),\n"
    b ++= s"w0 AS (SELECT DISTINCT src AS start, CAST(0 AS BIGINT) AS step, src AS vertex,\n"
    b ++= s"              CAST(NULL AS BIGINT) AS prev FROM e WHERE src % $startMod = 0)"
    val h1 = graft.functions.Hashing.hash60Sql("w.start::VARCHAR || '_n2v1_' || w.vertex::VARCHAR")
    b ++= s",\nw1 AS (SELECT w.start, CAST(1 AS BIGINT) AS step, r.dst AS vertex, w.vertex AS prev\n"
    b ++= s"       FROM w0 w JOIN ranked r ON r.src = w.vertex AND r.rn = ($h1) % r.deg + 1)"
    for (t <- 2 to numSteps) {
      val h = graft.functions.Hashing.hash60Sql(
        s"start::VARCHAR || '_n2v${t}_' || v::VARCHAR || '_' || prev::VARCHAR")
      b ++= s""",
         |opt$t AS (SELECT w.start, w.vertex AS v, w.prev, r.dst,
         |            CASE WHEN r.dst = w.prev THEN $wRet
         |                 WHEN EXISTS (SELECT 1 FROM e pe WHERE pe.src = w.prev AND pe.dst = r.dst) THEN 1000
         |                 ELSE $wFar END AS w
         |          FROM w${t - 1} w JOIN ranked r ON r.src = w.vertex),
         |cum$t AS (SELECT *, SUM(w) OVER (PARTITION BY start ORDER BY dst) AS cw,
         |                 SUM(w) OVER (PARTITION BY start) AS tot FROM opt$t),
         |w$t AS (SELECT start, CAST($t AS BIGINT) AS step, dst AS vertex, v AS prev
         |        FROM cum$t WHERE ($h) % tot >= cw - w AND ($h) % tot < cw)""".stripMargin
    }
    b ++= "\nSELECT start, step, vertex FROM ("
    b ++= (0 to numSteps).map(t => s"SELECT start, step, vertex FROM w$t").mkString(" UNION ALL ")
    b ++= ") u ORDER BY start, step"
    b.toString
  }

  /** DuckDB mirror of [[randomWalks]]: the step loop unrolled as chained
    * CTEs over the identical ranked adjacency and md5 hash.
    */
  def randomWalksSql(edgeSql: String, numSteps: Int = 4, startMod: Long = 20L): String = {
    require(numSteps >= 1 && startMod >= 1)
    val b = new StringBuilder
    b ++= s"WITH e AS (SELECT DISTINCT src, dst FROM ($edgeSql) t),\n"
    b ++= "ranked AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn,\n"
    b ++= "                  COUNT(*) OVER (PARTITION BY src) AS deg FROM e),\n"
    b ++= s"w0 AS (SELECT DISTINCT src AS start, CAST(0 AS BIGINT) AS step, src AS vertex\n"
    b ++= s"       FROM e WHERE src % $startMod = 0)"
    for (t <- 1 to numSteps) {
      val h = graft.functions.Hashing.hash60Sql(
        s"w.start::VARCHAR || '_${t}_' || w.vertex::VARCHAR")
      b ++= s",\nw$t AS (SELECT w.start, CAST($t AS BIGINT) AS step, r.dst AS vertex\n"
      b ++= s"       FROM w${t - 1} w JOIN ranked r ON r.src = w.vertex AND r.rn = ($h) % r.deg + 1)"
    }
    b ++= "\nSELECT start, step, vertex FROM ("
    b ++= (0 to numSteps).map(t => s"SELECT * FROM w$t").mkString(" UNION ALL ")
    b ++= ") u ORDER BY start, step"
    b.toString
  }

  /** DeepWalk/node2vec TRAINING-PAIR generation (Perozzi et al. 2014):
    * skip-gram (center, context) co-occurrence counts within a ±`window`
    * step radius over [[randomWalks]]' deterministic seeded walks — the
    * step that turns a graph into word2vec-shaped training data. A walk
    * can revisit a vertex, so center = context pairs are legitimate
    * co-occurrences and are kept (standard skip-gram behavior). Returns
    * `(center, context, cnt)`, all exact integers.
    *
    * Scale shape: the walk relation is (starts × steps)-sized, keyed by
    * its start vertex; the pair join is a self-join PER WALK (each side
    * of a walk joins only its own ≤ numSteps+1 rows), then one
    * (center, context)-keyed count with map-side combine. At 10¹² edges
    * the walks — not the graph — are the training corpus, and this is
    * one shuffle over them.
    */
  def deepWalkPairs(edges: DataFrame, numSteps: Int = 4, startMod: Long = 20L,
                    window: Int = 2): DataFrame = {
    require(window >= 1, s"deepWalkPairs needs window >= 1, got $window")
    val walks = randomWalks(edges, numSteps, startMod)
      .localCheckpoint(true) // both sides of the pair join read it
    val a = walks.select(col("start"), col("step").as("i"), col("vertex").as("center"))
    val b = walks.select(col("start").as("start2"), col("step").as("j"),
      col("vertex").as("context"))
    a.join(b, col("start") === col("start2") && col("i") =!= col("j") &&
        abs(col("i") - col("j")) <= window)
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
      .orderBy("center", "context")
  }

  /** DuckDB mirror of [[deepWalkPairs]]: [[randomWalksSql]] self-joined
    * with the identical window predicate.
    */
  def deepWalkPairsSql(edgeSql: String, numSteps: Int = 4, startMod: Long = 20L,
                       window: Int = 2): String =
    s"""WITH wk AS (SELECT * FROM (${randomWalksSql(edgeSql, numSteps, startMod)}) w)
       |SELECT a.vertex AS center, b.vertex AS context, COUNT(*)::BIGINT AS cnt
       |FROM wk a JOIN wk b
       |  ON a.start = b.start AND a.step <> b.step AND abs(a.step - b.step) <= $window
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Max edges a DFS will collect to the driver before failing loudly. */
  val MaxDfsEdges: Long = 5000000L

  /** Collect the graph's adjacency to the driver, neighbors sorted
    * ascending, guarded by [[MaxDfsEdges]]. DFS is sequential by nature
    * (SURVEY §2.2(1)) so the driver holds the adjacency; the traversal
    * itself only ever touches the reachable part. For larger graphs,
    * pre-filter the edge set or use [[bfs]].
    */
  private def collectAdjacency(edges: DataFrame, start: Long): Map[Long, Array[Long]] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long")).distinct()
      .limit(MaxDfsEdges.toInt + 1)
      .as[(Long, Long)]
      .collect()
    require(e.length <= MaxDfsEdges,
      s"DFS collects adjacency to the driver and is capped at $MaxDfsEdges edges; " +
        "pre-filter the edge set or use bfs() for reachability at scale")
    e.groupBy(_._1)
      .map { case (s, arr) => s -> arr.map(_._2).sorted }
  }

  /** Shortest-path RECONSTRUCTION: the actual vertex sequence of one
    * shortest path from `start` to `target` — the graph-database ask
    * [[bfs]]'s distance table alone can't answer. `(pos BIGINT, vertex
    * BIGINT)` with pos 0 = start … pos L = target; empty when `target` is
    * unreachable within `maxDepth`. `target = None` picks the highest-id
    * reachable vertex (a deterministic, always-reachable default).
    *
    * Determinism: among equal-length paths, each hop takes the MINIMUM-id
    * predecessor at the previous BFS level, so the reported path is the
    * unique canonical one — the property that lets a recursive-CTE oracle
    * derive the identical sequence.
    *
    * Scale shape: one [[bfs]] (Pregel, edges partitioned once) + ONE
    * distributed join deriving the full min-parent table (level-aligned
    * edge join, vertex-sized result, localCheckpoint'd), then ≤ maxDepth
    * chained joins each probing the parent table against a BROADCAST
    * single-row frontier — the whole walk-back is one lazy plan, no
    * per-step driver materialization. The only driver-sized reads are two
    * 1-row lookups (target pick, its level).
    */
  def shortestPathTo(edges: DataFrame, start: Long, target: Option[Long] = None,
                     maxDepth: Int = 12): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val lev = bfs(edges, start, maxDepth).select(col("vertex"), col("level").cast("long").as("level"))
      .localCheckpoint(true)
    val t = target.getOrElse {
      lev.agg(max("vertex")).head.getLong(0) // 1-row driver read by design
    }
    val tLevel = lev.filter(col("vertex") === t).select("level").collect()
    if (tLevel.isEmpty) return Seq.empty[(Long, Long)].toDF("pos", "vertex")
    val hops = tLevel.head.getLong(0)
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    // canonical min-id predecessor at the previous level, for every vertex
    val parent = lev.as("v")
      .join(e, col("v.vertex") === e("dst"))
      .join(lev.select(col("vertex").as("u"), col("level").as("ul")).as("p"),
        e("src") === col("p.u") && col("p.ul") === col("v.level") - 1)
      .groupBy(col("v.vertex").as("vertex"))
      .agg(min(col("p.u")).as("parent"))
      .localCheckpoint(true)
    var cur = Seq((hops, t)).toDF("pos", "vertex")
    val steps = scala.collection.mutable.ArrayBuffer[DataFrame](cur)
    for (p <- hops - 1 to 0L by -1) {
      cur = parent.join(broadcast(cur), "vertex")
        .select(lit(p).as("pos"), col("parent").as("vertex"))
      steps += cur
    }
    steps.reduce(_ unionByName _).orderBy("pos")
  }

  /** Temporal (time-respecting) reachability — EARLIEST ARRIVAL from
    * `start` over `edges(src, dst, t)` where an edge can only be taken at
    * its timestamp `t` if `t >= arrival(src)`, and traversing it lands at
    * `t + 1` (unit travel time): the temporal-graph question ("who could
    * information starting at v at time 0 have reached, and by when?")
    * that static reachability answers WRONG — a path through an edge that
    * departed before you arrived doesn't exist. `(vertex, arrival)`, min
    * earliest arrival over time-respecting paths of ≤ `maxHops` edges,
    * including `(start, startTime)`.
    *
    * Optimal substructure holds because a smaller arrival only ever
    * enables MORE edges (`t >= arr` is monotone), so min-arrival Pregel
    * relaxation (one superstep per hop, SSSP-shaped: edges partitioned
    * once, only improved arrivals ship as messages) computes the same
    * fixpoint the hop-bounded recursive-CTE oracle enumerates.
    */
  def temporalReachability(edges: DataFrame, start: Long, startTime: Long = 0L,
                           maxHops: Int = 12): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val INF = Long.MaxValue
    if (maxHops <= 0) return Seq((start, startTime)).toDF("vertex", "arrival")
    GraphLoop.run(GraphLoop.place(GraphLoop.edges(edges, "t"), INF, Seq(start -> startTime)))(g =>
      Pregel(g, initialMsg = INF, maxIterations = maxHops, activeDirection = EdgeDirection.Out)(
        vprog = (_, attr, msg) => math.min(attr, msg),
        sendMsg = t =>
          if (t.srcAttr != INF && t.attr >= t.srcAttr && t.attr + 1 < t.dstAttr)
            Iterator((t.dstId, t.attr + 1))
          else Iterator.empty,
        mergeMsg = math.min))(
      _.vertices.filter(_._2 != INF).toDF("vertex", "arrival").orderBy("vertex"))
  }

  /** DuckDB mirror of [[temporalReachability]]: the hop-bounded walk
    * carries `(vertex, arr, hops)` (UNION dedups states; arr values are
    * edge-time-bounded so the state space stays |V| × time-range × hops),
    * then MIN(arr) per vertex.
    */
  def temporalReachabilitySql(edgeSql: String, start: Long, startTime: Long = 0L,
                              maxHops: Int = 12): String =
    s"""WITH RECURSIVE e AS ($edgeSql),
       |walk(vertex, arr, hops) AS (
       |  SELECT CAST($start AS BIGINT), CAST($startTime AS BIGINT), 0
       |  UNION
       |  SELECT e.dst, e.t + 1, walk.hops + 1
       |  FROM walk JOIN e ON e.src = walk.vertex AND e.t >= walk.arr
       |  WHERE walk.hops < $maxHops)
       |SELECT vertex, MIN(arr)::BIGINT AS arrival FROM walk
       |GROUP BY vertex ORDER BY vertex""".stripMargin

  /** DuckDB mirror of [[shortestPathTo]] with the default highest-id
    * target: hop-bounded BFS closure, min-parent per level, recursive
    * walk-back from the target.
    */
  def shortestPathToSql(edgeSql: String, start: Long, maxDepth: Int = 12): String =
    s"""WITH RECURSIVE e AS ($edgeSql),
       |walk(vertex, level) AS (
       |  SELECT CAST($start AS BIGINT), 0
       |  UNION
       |  SELECT e.dst, walk.level + 1 FROM walk JOIN e ON e.src = walk.vertex
       |  WHERE walk.level < $maxDepth),
       |lev AS (SELECT vertex, MIN(level) AS level FROM walk GROUP BY vertex),
       |tgt AS (SELECT MAX(vertex) AS t FROM lev),
       |par AS (SELECT lv.vertex AS v, MIN(e.src) AS p
       |        FROM lev lv JOIN e ON e.dst = lv.vertex
       |        JOIN lev lu ON lu.vertex = e.src AND lu.level = lv.level - 1
       |        GROUP BY lv.vertex),
       |path(pos, vertex) AS (
       |  SELECT lev.level, lev.vertex FROM lev JOIN tgt ON lev.vertex = tgt.t
       |  UNION ALL
       |  SELECT path.pos - 1, par.p FROM path JOIN par ON par.v = path.vertex
       |  WHERE path.pos > 0)
       |SELECT pos::BIGINT AS pos, vertex::BIGINT AS vertex FROM path ORDER BY pos""".stripMargin
}
