package graft.graph

/** Driver-side sequential reference models of the DFS semantics
  * (`secondaryServer.c:56-108`, leaf record at `secondaryServer.c:93-97`,
  * start filtered at `secondaryServer.c:290`) with the engine's canonical
  * lowest-id-first schedule (SURVEY §2.2(1)).
  *
  * Purpose: generating the driver gate's `VALUES`-literal oracles for
  * `g8_dfs_preorder` / `g9_dfs_leaves` — DFS preorder is not expressible in
  * SQL (a recursive CTE cannot carry the visited set), so Verify computes
  * the expected rows HERE, with plain in-memory recursion that shares no
  * code with [[Traversals]]' Spark path (mirroring the independent model
  * that `TraversalProps` property-checks the same operators against).
  */
object SequentialModel {

  def adjacency(edges: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
    edges.distinct.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).sorted }

  /** DFS preorder, lowest-id neighbor first. Explicit stack (not JVM
    * recursion): the model must hold at any sf, and a path-shaped region of
    * the sf0.1 derived graph is deeper than the default JVM stack.
    */
  def dfsPreorder(edges: Seq[(Long, Long)], start: Long): Seq[Long] = {
    val adj = adjacency(edges)
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Iterator[Long]]
    seen += start
    stack.push(adj.getOrElse(start, Nil).iterator)
    while (stack.nonEmpty) {
      val it = stack.top
      if (it.hasNext) {
        val n = it.next()
        if (!seen(n)) {
          seen += n
          stack.push(adj.getOrElse(n, Nil).iterator)
        }
      } else stack.pop()
    }
    seen.toSeq
  }

  /** k-core by the classic QUEUE-based peeling (Matula–Beck shape): remove
    * one sub-k vertex at a time, decrementing neighbors and enqueueing any
    * that fall below k. Deliberately a different algorithm family from
    * [[Analytics.kCore]]'s simultaneous wave peeling — both provably reach
    * the same unique maximal subgraph, so this is an independent oracle for
    * the `g14` VALUES gate, not a mirror. Returns surviving vertex →
    * within-core degree.
    */
  def kCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
    }
    val queue = scala.collection.mutable.Queue.empty[Long]
    adj.keys.foreach(v => if (adj(v).size < k) queue += v)
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      adj.get(v).foreach { ns =>
        ns.foreach { n =>
          val nn = adj(n)
          nn -= v
          if (nn.size == k - 1) queue += n // just dropped below k
        }
        adj -= v
      }
    }
    adj.iterator.map { case (v, ns) => v -> ns.size }.toMap
  }

  /** Synchronous label propagation mirror for the `g15` oracle: same
    * deterministic semantics as [[Analytics.labelPropagation]] (most
    * frequent undirected-neighbor label, ties to the smallest, all
    * vertices updated simultaneously for `numIter` rounds) computed with
    * plain in-memory maps. Like the PageRank oracle, LPA's fixed-iteration
    * contract makes a sequential mirror exact — the operator's semantics
    * IS the iteration.
    */
  /** k-truss fixpoint by whole-wave peeling: recompute per-edge triangle
    * support (|N(a) ∩ N(b)| over the surviving undirected simple graph),
    * drop every edge below k−2, repeat until stable. Peeling ORDER does
    * not affect the fixpoint (the k-truss is unique — it is the maximal
    * subgraph with the property), so this wave model is an exact oracle
    * for `Analytics.kTruss`'s distributed waves while sharing none of its
    * enumeration machinery. Returns surviving canonical edges with their
    * in-truss supports.
    */
  def kTruss(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Int] = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    var und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    var supp = Map.empty[(Long, Long), Int]
    var changed = und.nonEmpty
    while (changed) {
      val nbrs = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      supp = und.iterator.map { case (a, b) => (a, b) -> (nbrs(a) & nbrs(b)).size }.toMap
      val keep = supp.filter(_._2 >= k - 2).keySet
      changed = keep.size != und.size
      und = keep
    }
    supp.filter(_._2 >= k - 2)
  }

  /** Longest-path topological layers of a DAG by memoized DP over
    * predecessors (explicit stack — the sf0.1 DAG is deeper than the JVM
    * default). Throws on a cycle (gray-node re-entry), mirroring
    * `Analytics.topoLayers`' loud non-convergence contract.
    */
  def topoLayers(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.filter(e => e._1 != e._2).distinct
    val preds = es.groupBy(_._2).map { case (v, l) => v -> l.map(_._1) }
    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
    val memo = scala.collection.mutable.Map.empty[Long, Long]
    val open = scala.collection.mutable.Set.empty[Long] // on stack, preds pending
    for (v0 <- verts if !memo.contains(v0)) {
      val stack = scala.collection.mutable.Stack(v0)
      while (stack.nonEmpty) {
        val v = stack.top
        if (memo.contains(v)) { stack.pop(); open -= v }
        else {
          val ps = preds.getOrElse(v, Nil)
          val missing = ps.filterNot(memo.contains)
          if (missing.isEmpty) {
            memo(v) = if (ps.isEmpty) 0L else ps.map(memo).max + 1L
            open -= v
            stack.pop()
          } else {
            // re-reaching an open vertex before its preds resolved = a
            // predecessor chain loops back to it
            require(!open.contains(v), "cycle detected in topoLayers input")
            open += v
            missing.foreach(stack.push)
          }
        }
      }
    }
    memo.toMap
  }

  /** Textbook sequential Brandes for the `g32` VALUES oracle: per seed, a
    * plain queue BFS (hop-bounded like the distributed operator) counting
    * shortest paths, then dependency back-propagation in strictly
    * descending distance order. Shares nothing with
    * `Analytics.betweennessProfile`'s level-table join plan — an
    * independent model, not a mirror. Returns vertex → δ-sum rounded
    * HALF_UP to 1e-6 (the same decimal grain Spark's `round(col, 6)`
    * applies), positive entries only.
    */
  def betweenness(edges: Seq[(Long, Long)], seeds: Seq[Long],
                  maxDepth: Int): Map[Long, Double] = {
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).distinct.sorted }
    val bc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    for (s <- seeds.distinct.sorted) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L).withDefaultValue(0L)
      val order = scala.collection.mutable.ArrayBuffer(s) // BFS settle order
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        if (dist(v) < maxDepth) adj.getOrElse(v, Nil).foreach { w =>
          if (!dist.contains(w)) {
            dist(w) = dist(v) + 1
            order += w
            queue += w
          }
          if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
        }
      }
      val delta = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      order.reverseIterator.foreach { v =>
        adj.getOrElse(v, Nil).foreach { w =>
          if (dist.get(w).contains(dist(v) + 1))
            delta(v) += sigma(v).toDouble / sigma(w).toDouble * (1.0 + delta(w))
        }
        if (v != s) bc(v) += delta(v)
      }
    }
    bc.iterator.map { case (v, d) =>
      v -> BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.filter(_._2 > 0).toMap
  }

  def labelPropagation(edges: Seq[(Long, Long)], numIter: Int): Map[Long, Long] = {
    val und = edges.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var labels = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to numIter) {
      labels = adj.map { case (v, ns) =>
        val freq = ns.groupBy(labels).map { case (l, xs) => l -> xs.size }
        val best = freq.toSeq.minBy { case (l, n) => (-n, l) }._1
        v -> best
      }
    }
    labels
  }

  /** Louvain-style synchronous modularity sweep, mirror of
    * `Analytics.louvainSweep`'s contract: per round, every vertex
    * simultaneously moves to the candidate community (its neighbors'
    * labels + its own) maximizing the EXACT INTEGER move score
    * `2m·e_vc − deg(v)·dC(c)` (dC excludes v's own degree when c is its
    * current community; ties to the smallest community label). Returns
    * the labels after `rounds`.
    */
  def louvainSweep(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    sweepWeighted(
      edges.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
        .map { case (a, b) => (a, b, 1L) },
      rounds)

  /** Weighted local-move core (mirror of `Analytics.sweepWeighted`):
    * canonical `(a <= b, w)` edges, self-loops allowed and counted twice in
    * their vertex's degree; exact-integer move score `2W·e_vc − k_v·dC(c)`,
    * ties to the smallest label, parity-alternating rounds.
    */
  private def sweepWeighted(und: Seq[(Long, Long, Long)],
                            rounds: Int): Map[Long, Long] = {
    val m = und.iterator.map(_._3).sum
    val adj = und.collect { case (a, b, w) if a != b => Seq((a, b, w), (b, a, w)) }
      .flatten.groupBy(_._1).map { case (v, es) => v -> es.map(e => (e._2, e._3)) }
    val selfW = und.collect { case (a, b, w) if a == b => (a, w) }
      .groupBy(_._1).map { case (v, ws) => v -> ws.iterator.map(_._2).sum }
    val vs = (adj.keySet ++ selfW.keySet).toSeq
    val deg = vs.map { v =>
      v -> (adj.getOrElse(v, Nil).iterator.map(_._2).sum + 2L * selfW.getOrElse(v, 0L))
    }.toMap
    var labels: Map[Long, Long] = vs.map(v => v -> v).toMap
    for (r <- 1 to rounds) {
      val cur = labels
      // .keys is a Set — map through an iterator so equal degree values
      // don't collapse before summing
      val mass = cur.groupBy(_._2).map { case (c, vcs) =>
        c -> vcs.keys.iterator.map(deg).sum
      }
      labels = cur.map { case (v, own) =>
        // parity-alternating: only one id-parity class moves per round
        if (v % 2 != r % 2) v -> own
        else {
          val nc = adj.getOrElse(v, Nil).groupBy(e => cur(e._1))
            .map { case (c, xs) => c -> xs.iterator.map(_._2).sum }
          val cands = (nc.keySet + own).toSeq
          val best = cands.minBy { c =>
            val e = nc.getOrElse(c, 0L)
            val dc = mass(c) - (if (c == own) deg(v) else 0L)
            val score = 2L * m * e - deg(v) * dc
            (-score, c)
          }
          v -> best
        }
      }
    }
    labels
  }

  /** Full two-phase Louvain, mirror of `Analytics.louvain`: level-1 sweep,
    * contraction (inter-community weights sum, intra mass → self-loop),
    * level-2 sweep on the coarse weighted graph, labels unfolded.
    */
  def louvain(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und1 = edges.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
    val l1 = sweepWeighted(und1.map { case (a, b) => (a, b, 1L) }, rounds)
    val coarse = und1
      .map { case (a, b) =>
        val (la, lb) = (l1(a), l1(b))
        ((la min lb, la max lb), 1L)
      }
      .groupBy(_._1).toSeq
      .map { case ((a, b), ws) => (a, b, ws.iterator.map(_._2).sum) }
    val l2 = sweepWeighted(coarse, rounds)
    l1.map { case (v, c1) => v -> l2(c1) }
  }

  /** Textbook Dijkstra with a priority queue — the independent oracle for
    * `Traversals.weightedSsspFixpoint` (a different algorithm family than
    * the distributed Bellman-Ford: greedy settle order vs synchronous
    * relaxation; positive weights make both exact, so they must agree).
    * Returns vertex → minimum path cost from `start`, reached vertices
    * only (including `start → 0`).
    */
  def dijkstra(edges: Seq[(Long, Long, Long)], start: Long): Map[Long, Long] = {
    val adj = edges.groupBy(_._1)
      .map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
    edges.foreach { case (s, d, w) =>
      require(w > 0, s"dijkstra requires positive weights, got $w on $s->$d")
    }
    val dist = scala.collection.mutable.Map(start -> 0L)
    val settled = scala.collection.mutable.Set.empty[Long]
    val pq = scala.collection.mutable.PriorityQueue((0L, start))(
      Ordering.by[(Long, Long), (Long, Long)](t => (-t._1, -t._2)))
    while (pq.nonEmpty) {
      val (c, v) = pq.dequeue()
      if (!settled(v) && dist(v) == c) {
        settled += v
        adj.getOrElse(v, Nil).foreach { case (u, w) =>
          if (c + w < dist.getOrElse(u, Long.MaxValue)) {
            dist(u) = c + w
            pq.enqueue((c + w, u))
          }
        }
      }
    }
    dist.toMap
  }

  /** Minimum spanning forest by Kruskal with union-find — the independent
    * mirror of `Analytics.minimumSpanningForest`'s Borůvka (weights are
    * unique by contract, so the forest is UNIQUE and any correct
    * algorithm agrees). Returns `(a, b, w)` edges, unsorted.
    */
  def minimumSpanningForest(edges: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] = {
    val und = edges.collect { case (s, d, w) if s != d => ((s min d, s max d), w) }
      .groupBy(_._1).map { case (k, ws) => (k._1, k._2, ws.map(_._2).min) }.toSeq
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    und.sortBy { case (a, b, w) => (w, a, b) }.foreach { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; out += ((a, b, w)) }
    }
    out.toSeq
  }

  /** Reference leaf-set DFS: vertices whose visit spawned zero recursive
    * calls, excluding the start; sorted ascending. Explicit frames (not JVM
    * recursion) for the same depth reason as [[dfsPreorder]] — each frame
    * carries its spawn count, closed out on pop (the recursion's
    * post-order), so semantics are bit-identical to the recursive form.
    */
  def dfsLeaves(edges: Seq[(Long, Long)], start: Long): Seq[Long] = {
    val adj = adjacency(edges)
    final class Frame(val v: Long, val it: Iterator[Long]) { var spawned = 0 }
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val leaves = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Frame]
    seen += start
    stack.push(new Frame(start, adj.getOrElse(start, Nil).iterator))
    while (stack.nonEmpty) {
      val f = stack.top
      if (f.it.hasNext) {
        val n = f.it.next()
        if (!seen(n)) {
          f.spawned += 1
          seen += n
          stack.push(new Frame(n, adj.getOrElse(n, Nil).iterator))
        }
      } else {
        stack.pop()
        if (f.spawned == 0 && f.v != start) leaves += f.v
      }
    }
    leaves.toSeq.sorted
  }

  /** Undirected simple adjacency (both directions, no self-loops). */
  private def undirectedAdj(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] = {
    val und = edges.collect { case (s, d) if s != d =>
      (math.min(s, d), math.max(s, d)) }.distinct
    (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSet }
  }

  /** The deterministic vertex priority the MIS/coloring CONTRACT fixes
    * (restated independently of the Spark path — see
    * `Analytics.priorityCol`): an LCG, injective below 2³¹−1.
    */
  private def priority(v: Long): Long = (v * 1103515245L + 12345L) % 2147483647L

  /** Sequential greedy MIS in `(priority, id)` order — the independent
    * oracle for the distributed deterministic-Luby rounds (their fixpoint
    * provably equals this greedy). Sorted ascending.
    */
  def greedyMis(edges: Seq[(Long, Long)]): Seq[Long] = {
    val adj = undirectedAdj(edges)
    val inSet = scala.collection.mutable.HashSet.empty[Long]
    for (v <- adj.keys.toSeq.sortBy(v => (priority(v), v)))
      if (!adj(v).exists(inSet)) inSet += v
    inSet.toSeq.sorted
  }

  /** Sequential greedy coloring in `(priority, id)` order: each vertex takes
    * the minimum excluded value of its already-colored neighbors' colors —
    * the independent oracle for the Jones–Plassmann rounds.
    */
  def greedyColoring(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = undirectedAdj(edges)
    val color = scala.collection.mutable.HashMap.empty[Long, Long]
    for (v <- adj.keys.toSeq.sortBy(v => (priority(v), v))) {
      val used = adj(v).flatMap(color.get)
      var c = 0L
      while (used.contains(c)) c += 1
      color(v) = c
    }
    color.toMap
  }

  /** Sequential greedy maximal matching in edge-priority order — the
    * independent oracle for the distributed parallel rounds (MIS on the
    * line graph; the fixpoint provably equals this greedy). The edge
    * priority LCG is part of the operator contract. Returns matched
    * `(a, b)` pairs sorted.
    */
  def greedyMatching(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val und = edges.collect { case (s, d) if s != d =>
      (math.min(s, d), math.max(s, d)) }.distinct
    def pri(e: (Long, Long)): Long =
      ((e._1 * 1000003L + e._2) * 1103515245L + 12345L) % 2147483647L
    val matched = scala.collection.mutable.HashSet.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (e <- und.sortBy(e => (pri(e), e._1, e._2)))
      if (!matched(e._1) && !matched(e._2)) {
        matched += e._1; matched += e._2; out += e
      }
    out.toSeq.sorted
  }

  /** Exact coreness by Batagelj–Zaversnik min-degree peeling — an
    * algorithm INDEPENDENT of the distributed H-index fixpoint (they agree
    * because both are exact). Returns vertex → coreness.
    */
  def coreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = undirectedAdj(edges)
    val deg = scala.collection.mutable.HashMap.empty[Long, Int]
    adj.foreach { case (v, ns) => deg(v) = ns.size }
    val core = scala.collection.mutable.HashMap.empty[Long, Long]
    val remaining = scala.collection.mutable.HashSet.empty[Long] ++ adj.keys
    var k = 0L
    while (remaining.nonEmpty) {
      val ready = remaining.filter(v => deg(v) <= k)
      if (ready.isEmpty) k += 1
      else ready.foreach { v =>
        core(v) = k
        remaining -= v
        adj(v).foreach(u => if (remaining(u)) deg(u) -= 1)
      }
    }
    core.toMap
  }

  /** HyperBall mirror — the identical integer register algebra
    * (independent md5 hash implementation, own loops) and the contract's
    * fixed-form estimate. Returns vertex → ball_e3.
    */
  def hyperBall(edges: Seq[(Long, Long)], t: Int = 8): Map[Long, Long] = {
    val m = 16
    val e = edges.filter { case (s, d) => s != d }.distinct
    val verts = e.flatMap(p => Seq(p._1, p._2)).distinct
    def hash60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val regs = scala.collection.mutable.Map.empty[Long, Array[Int]]
    verts.foreach { v =>
      val h = hash60(v.toString)
      val idx = (h % m).toInt
      val rest = h / m
      var rank = 41
      var i = 0
      while (i < 40 && rank == 41) { if (((rest >> i) & 1L) == 1L) rank = i + 1; i += 1 }
      val a = Array.ofDim[Int](m)
      a(idx) = rank
      regs(v) = a
    }
    val out = e.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    for (_ <- 1 to t) {
      val next = verts.map { v =>
        val merged = regs(v).clone()
        out.getOrElse(v, Nil).foreach { u =>
          val ru = regs(u)
          var j = 0
          while (j < m) { if (ru(j) > merged(j)) merged(j) = ru(j); j += 1 }
        }
        v -> merged
      }.toMap
      next.foreach { case (v, a) => regs(v) = a }
    }
    verts.map { v =>
      val a = regs(v)
      var sumInv = 0.0
      var j = 0
      var zeros = 0
      while (j < m) {
        sumInv += math.pow(2.0, -a(j))
        if (a(j) == 0) zeros += 1
        j += 1
      }
      val raw = 0.673 * m * m / sumInv
      val est = if (raw <= 2.5 * m && zeros > 0) m.toDouble * math.log(m.toDouble / zeros) else raw
      v -> BigDecimal(est * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.toMap
  }

  /** Neighborhood-function mirror — replays [[hyperBall]]'s register
    * algebra round by round and sums the per-vertex e3 estimates, then
    * flags the effective diameter by the contract's integer 90% test.
    * Returns `(t, npairs_e3, is_eff)` for t = 0..tMax.
    */
  def neighborhoodFunction(edges: Seq[(Long, Long)], tMax: Int = 8): Seq[(Long, Long, Long)] = {
    val sums = (0 to tMax).map(t => hyperBall(edges, t).values.sum)
    val nFinal = sums.last
    val effT = sums.indexWhere(n => 10L * n >= 9L * nFinal)
    (0 to tMax).map(t => (t.toLong, sums(t), if (t == effT) 1L else 0L))
  }

  /** Sequential mirror of `Analytics.pageRankConverged` — own adjacency,
    * own loop, the shared exactness contract restated: per-edge
    * contributions half-up-quantized to integer nanos before summing,
    * ranks re-quantized to the 1e-6 grid each round (HALF_UP like Spark's
    * `round`, signed zero normalized), stop when the max integer
    * micro-delta reaches `tolE6` or at `maxIter`. Returns
    * `(vertex, pr_e6, n_iter)` sorted; no edges → no rows.
    */
  def pageRankConverged(edges: Seq[(Long, Long)], tolE6: Long = 100L,
                        maxIter: Int = 60): Seq[(Long, Long, Long)] = {
    val dedup = edges.distinct
    val vs = (dedup.map(_._1) ++ dedup.map(_._2)).distinct.sorted
    val out = dedup.groupBy(_._1).map { case (s, es) => s -> es.size }
    def halfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def grid6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    var pr: Map[Long, Double] = vs.map(_ -> 1.0).toMap
    var iters = 0L
    var delta = Long.MaxValue
    while (iters < maxIter && delta > tolE6) {
      val mNano = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      dedup.foreach { case (s, d) =>
        mNano(d) += halfUp(pr(s) * (1.0 / out(s)) * 1e9)
      }
      val next = vs.map(v => v -> grid6(0.15 + 0.85 * (mNano(v) / 1e9))).toMap
      delta = vs.map(v => math.abs(halfUp((next(v) - pr(v)) * 1e6))).maxOption.getOrElse(0L)
      pr = next
      iters += 1
    }
    vs.map(v => (v, halfUp(pr(v) * 1e6), iters))
  }

  /** Sequential mirror of `Analytics.katzConverged` — own loop, shared
    * exactness contract (nano-quantized contributions, 1e-6 grid,
    * integer micro-delta stop). Returns `(vertex, katz_e6, n_iter)`; no
    * edges → no rows. */
  def katzConverged(edges: Seq[(Long, Long)], alphaE3: Long = 50L,
                    tolE6: Long = 100L, maxIter: Int = 60): Seq[(Long, Long, Long)] = {
    val alpha = alphaE3 / 1000.0
    val dedup = edges.distinct
    val vs = (dedup.map(_._1) ++ dedup.map(_._2)).distinct.sorted
    def halfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def grid6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    var xr: Map[Long, Double] = vs.map(_ -> 1.0).toMap
    var iters = 0L
    var delta = Long.MaxValue
    while (iters < maxIter && delta > tolE6) {
      val mNano = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      dedup.foreach { case (s, d) => mNano(d) += halfUp(xr(s) * alpha * 1e9) }
      val next = vs.map(v => v -> grid6(1.0 + mNano(v) / 1e9)).toMap
      delta = vs.map(v => math.abs(halfUp((next(v) - xr(v)) * 1e6))).maxOption.getOrElse(0L)
      xr = next
      iters += 1
    }
    vs.map(v => (v, halfUp(xr(v) * 1e6), iters))
  }

  /** Sequential mirror of the batch densest-subgraph peeling (ε = 1/10):
    * per round drop every vertex with `10·deg·|V| ≤ 22·|E|`, track the best
    * `E/V` snapshot by cross-multiplication (first round wins ties).
    * Returns `(best_round, n_vertices, n_edges, density_e6)`.
    */
  def densestSubgraph(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
    var und = edges.collect { case (s, d) if s != d =>
      (math.min(s, d), math.max(s, d)) }.distinct
    var verts: Set[Long] = und.flatMap(e => Seq(e._1, e._2)).toSet
    var (bestRound, bestV, bestE) = (0L, 0L, 0L)
    var round = 0L
    while (verts.nonEmpty) {
      val (vc, ec) = (verts.size.toLong, und.size.toLong)
      if (bestV == 0L || ec * bestV > bestE * vc) {
        bestRound = round; bestV = vc; bestE = ec
      }
      round += 1
      val deg = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      und.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
      val keep = verts.filter(v => deg(v) * 10L * vc > 22L * ec)
      und = und.filter { case (a, b) => keep(a) && keep(b) }
      verts = keep
    }
    (bestRound, bestV, bestE, if (bestV == 0L) 0L else bestE * 1000000L / bestV)
  }
}
