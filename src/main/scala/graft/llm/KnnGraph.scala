package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.operators.CommitTable
import graft.operators.CommitTable.Budget

/** Distributed k-NN-graph construction and graph-routed ANN search — the
  * GRAPH-based vector-index family (the HNSW / DiskANN lineage) that
  * complements [[Similarity]]'s cluster-routed IVF family. Two halves:
  *
  *  - [[knnGraph]] — NN-Descent (Dong, Moses & Li, WWW 2011: "Efficient
  *    k-nearest neighbor graph construction for generic similarity
  *    measures"): start from an arbitrary k-regular graph and iterate the
  *    paper's local join — every vertex introduces its neighbors (forward
  *    AND reverse) to each other; each vertex keeps the k best candidates
  *    it has ever seen. Neighbors-of-neighbors converge on true neighbors
  *    because "a neighbor of my neighbor is likely my neighbor" — each
  *    round roughly squares the explored radius, so a handful of rounds
  *    suffice regardless of corpus size.
  *  - [[buildKnnGraphIndex]] / [[knnGraphSearch]] — the committed form plus
  *    best-first routed search (the DiskANN/Vamana query shape, Subramanya
  *    et al., NeurIPS 2019): beam search from a fixed entry point, each hop
  *    reading ONLY the frontier's adjacency rows and the candidates'
  *    vector rows through commit-log file pruning — the graph analogue of
  *    the IVF probe's "touch only the probed lists" IO contract.
  *
  * Deterministic divergences from the published algorithms (both
  * deliberate, so every path is oracle-checkable by a DuckDB mirror rather
  * than rows-only):
  *  - NN-Descent's RANDOM init and sampling (ρ) are replaced by a modular
  *    id-ring init (vertex v starts with edges to ids `(v + 1 .. v + k)
  *    mod (maxId + 1)`) and a deterministic per-pivot cap of `2k` on the
  *    local-join set (best-similarity members first). The ring guarantees
  *    the start graph is connected under the corpus's dense-id contract;
  *    init quality only affects convergence speed, not the fixpoint the
  *    rounds drive toward.
  *  - Rounds are FIXED (no early-termination counter): the update is a
  *    pure function of the previous round's graph, so a fixed round count
  *    makes the whole construction a deterministic dataflow both engines
  *    replay exactly.
  *  - The paper's incremental flags (skip already-joined pairs) are
  *    dropped: candidate pairs are deduplicated globally per round
  *    instead, which keeps the round a pair-DISTINCT + one scoring join
  *    rather than per-vertex mutable state.
  *
  * Float discipline is [[Similarity]]'s: double-precision strict
  * left-to-right dots (the codegen'd [[graft.functions.DotProduct]]),
  * identical on both engines, scores surfaced as `floor(cos · 1e6)`
  * integers, every ordering tie-broken by vertex id.
  *
  * Scale shape (the point of NN-Descent over anything quadratic): a round
  * touches `n · (2k)²` candidate pairs — LINEAR in n for fixed k — via two
  * hash shuffles (pivot grouping, pair distinct) and one id-keyed scoring
  * join; nothing is ever all-pairs and no driver state exceeds the
  * returned graph's own rows. The id-ring init is one modular self-join —
  * no global sort, no single-partition window.
  */
object KnnGraph {

  /** A walk's beam order over `(query_id, vec_id, cos)`: `cos` descending
    * under Spark's double comparison (`SQLOrderingUtil.compareDoubles`:
    * equal values tie, so 0.0 ties -0.0; otherwise
    * `java.lang.Double.compare`, so NaN ranks above every number), then
    * `vec_id` ascending — the driver twin of
    * `orderBy(col("cos").desc, col("vec_id"))`. */
  private[graft] val BeamOrder: Ordering[(Long, Long, Double)] =
    new Ordering[(Long, Long, Double)] {
      def compare(a: (Long, Long, Double), b: (Long, Long, Double)): Int = {
        val c = if (a._3 == b._3) 0 else java.lang.Double.compare(b._3, a._3)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** `(vec_id, e DOUBLE[], nrm)` — the family's shared normalized view. */
  private def vectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").cast("long").as("vec_id"),
        asDouble(col("embedding")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))

  /** cos(src, dst) for each (src, dst) pair via two id-keyed joins against
    * the vector view — pairs are deduplicated BEFORE vectors are attached,
    * so each distinct pair pays exactly one dot product. */
  private def scorePairs(pairs: DataFrame, v: DataFrame): DataFrame =
    pairs
      .join(v.select(col("vec_id").as("src"), col("e").as("se"), col("nrm").as("sn")), "src")
      .join(v.select(col("vec_id").as("dst"), col("e").as("de"), col("nrm").as("dn")), "dst")
      .select(col("src"), col("dst"),
        (dot(col("se"), col("de")) / (col("sn") * col("dn"))).as("cos"))

  /** The raw directed k-NN graph `(src, dst, cos)` after `rounds`
    * NN-Descent local joins over the id-ring start graph. Exposed
    * `private[graft]` so [[buildKnnGraphIndex]] and the spec share the
    * exact edge set the gate ranks. */
  private[graft] def knnGraphEdges(emb: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"knnGraph: k must be >= 1, got $k")
    require(rounds >= 0, s"knnGraph: rounds must be >= 0, got $rounds")
    val v = vectors(emb).localCheckpoint(true)
    // id-ring init: (v + 1 .. v + k) mod (maxId + 1); inner join drops
    // ring slots whose id is absent (sparse-id corpora degrade to a
    // near-ring — documented above). The modulus is a 1-row scalar attach
    // (the repo's crossJoin discipline), NOT a global sort or window.
    val nDf = v.agg((max(col("vec_id")) + 1).as("modn"))
    val ring = v.select(col("vec_id").as("src")).crossJoin(broadcast(nDf))
      .select(col("src"), explode(sequence(lit(1), lit(k))).as("j"), col("modn"))
      .select(col("src"), ((col("src") + col("j")) % col("modn")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .join(v.select(col("vec_id").as("dst")), "dst") // keep existing ids only
      .select("src", "dst")
    var edges = scorePairs(ring, v).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // the paper's local join: B(p) = forward ∪ reverse neighbors of p,
      // capped at the 2k best (cos desc, id asc) — every pair inside B(p)
      // becomes a candidate edge in both directions
      val b = edges.select(col("src").as("pivot"), col("dst").as("member"), col("cos"))
        .union(edges.select(col("dst").as("pivot"), col("src").as("member"), col("cos")))
        .distinct()
      val wB = Window.partitionBy("pivot").orderBy(col("cos").desc, col("member"))
      val bc = b.withColumn("rn", row_number().over(wB)).filter(col("rn") <= 2 * k)
        .select("pivot", "member")
      val pairs = bc.as("x").join(bc.as("y"),
          col("x.pivot") === col("y.pivot") && col("x.member") < col("y.member"))
        .select(col("x.member").as("src"), col("y.member").as("dst"))
        .distinct()
      val scored = scorePairs(pairs, v)
      val cand = edges
        .union(scored.select(col("src"), col("dst"), col("cos")))
        .union(scored.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
        .distinct() // same pair ⇒ bit-identical cos (commutative dot), so distinct dedups exactly
      val wE = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
      edges = cand.withColumn("rn", row_number().over(wE)).filter(col("rn") <= k)
        .select("src", "dst", "cos")
        .localCheckpoint(true) // plans are trees: without a cut, round r re-derives rounds 1..r-1
    }
    edges
  }

  /** NN-Descent k-NN graph: `(src_id, nbr_id, rank, cos_1e6)` — for every
    * vertex its k approximate nearest neighbors after `rounds` local
    * joins, ranked by (cos desc, id asc). Recall against the exact graph
    * is property-tested in KnnGraphSpec (it rises monotonically with
    * rounds); equality is against the DuckDB replay of the identical
    * dataflow ([[knnGraphSql]]). */
  def knnGraph(emb: DataFrame, k: Int = 6, rounds: Int = 2): DataFrame = {
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    knnGraphEdges(emb, k, rounds)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("src").as("src_id"), col("dst").as("nbr_id"), col("rank"),
        floor(col("cos") * 1e6).cast("long").as("cos_1e6"))
      .orderBy("src_id", "rank")
  }

  /** The construction's CTE chain (shared by the graph mirror and the
    * search mirror): returns `(cteBody, finalEdgesCte)` — `cteBody` starts
    * after `WITH ` and ends with a trailing comma. */
  private def graphCtes(k: Int, rounds: Int,
                        baseFilter: String = "TRUE"): (String, String) = {
    val sb = new StringBuilder
    sb.append(
      s"""v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE $baseFilter),
         |n AS MATERIALIZED (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
         |cnt AS MATERIALIZED (SELECT max(vec_id) + 1 AS modn FROM n),
         |ring AS MATERIALIZED (SELECT DISTINCT a.vec_id AS src, (a.vec_id + u.j) % cnt.modn AS dst
         |         FROM n a, cnt, UNNEST(range(1, ${k + 1})) AS u(j)
         |         WHERE (a.vec_id + u.j) % cnt.modn <> a.vec_id),
         |e0 AS MATERIALIZED (SELECT r.src, r.dst,
         |              list_dot_product(sa.e, sb.e) / (sa.nrm * sb.nrm) AS cos
         |       FROM ring r JOIN n sa ON sa.vec_id = r.src JOIN n sb ON sb.vec_id = r.dst),
         |""".stripMargin)
    var prev = "e0"
    for (r <- 1 to rounds) {
      sb.append(
        s"""b$r AS MATERIALIZED (SELECT DISTINCT pvt, mem, cos FROM (
           |  SELECT src AS pvt, dst AS mem, cos FROM $prev
           |  UNION ALL SELECT dst, src, cos FROM $prev)),
           |bc$r AS MATERIALIZED (SELECT pvt, mem FROM (
           |  SELECT pvt, mem,
           |         row_number() OVER (PARTITION BY pvt ORDER BY cos DESC, mem) AS rn
           |  FROM b$r) WHERE rn <= ${2 * k}),
           |pr$r AS MATERIALIZED (SELECT DISTINCT x.mem AS src, y.mem AS dst
           |  FROM bc$r x JOIN bc$r y ON x.pvt = y.pvt AND x.mem < y.mem),
           |s$r AS MATERIALIZED (SELECT pr.src, pr.dst,
           |               list_dot_product(va.e, vb.e) / (va.nrm * vb.nrm) AS cos
           |  FROM pr$r pr JOIN n va ON va.vec_id = pr.src JOIN n vb ON vb.vec_id = pr.dst),
           |e$r AS MATERIALIZED (SELECT src, dst, cos FROM (
           |  SELECT src, dst, cos,
           |         row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
           |  FROM (SELECT DISTINCT src, dst, cos FROM (
           |    SELECT src, dst, cos FROM $prev
           |    UNION ALL SELECT src, dst, cos FROM s$r
           |    UNION ALL SELECT dst, src, cos FROM s$r)))
           |  WHERE rn <= $k),
           |""".stripMargin)
      prev = s"e$r"
    }
    (sb.toString, prev)
  }

  /** DuckDB mirror of [[knnGraph]]: the identical dataflow — same id-ring
    * init, same 2k-capped local joins, same global pair dedup, same
    * (cos desc, id) keep rule — replayed as `rounds` generated CTE blocks.
    * Deterministic bit-equality, not a recall bound: dots are the same
    * strict left-to-right binary64 folds on both engines. */
  def knnGraphSql(k: Int = 6, rounds: Int = 2): String = {
    val (ctes, fin) = graphCtes(k, rounds)
    s"""WITH $ctes
       |r AS MATERIALIZED (SELECT src, dst, cos,
       |             row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
       |      FROM $fin)
       |SELECT src AS src_id, dst AS nbr_id, rank::BIGINT AS rank,
       |       floor(cos * 1e6)::BIGINT AS cos_1e6
       |FROM r ORDER BY src_id, rank""".stripMargin
  }

  // ----- persisted graph index + routed search ---------------------------

  /** Builds the PERSISTED graph index under `indexRoot` as three commit-log
    * tables — the build-once / search-many shape of the family's other
    * indexes ([[Similarity.buildIvfIndex]] discipline):
    *  - `vectors/` — the normalized vector rows, RANGE-clustered by vec_id
    *    (the search's candidate-fetch side: per-file id stats prune every
    *    file outside the hop's candidate set);
    *  - `graph/`   — the NN-Descent edges, RANGE-clustered by src (the
    *    adjacency-fetch side: a hop reads only frontier vertices' files);
    *  - `entries/` — the `numEntries` search entry vertices: the smallest
    *    existing id at or above each of `numEntries` evenly-spaced points
    *    of the id span. A converged k-NN graph keeps only SHORT edges, so
    *    single-entry greedy search gets trapped in the entry's own
    *    neighborhood when the corpus has well-separated modes; seeding
    *    every query's beam from spread-out restarts is NSW's published
    *    multi-search answer (Malkov et al., IS 2014 — m independent
    *    entry points per query), made deterministic here.
    * Returns the committed graph version. Refresh = rebuild (NN-Descent's
    * fixpoint is not delta-decomposable — appended vectors change existing
    * vertices' true neighbor lists); old versions stay readable via asOf.
    */
  def buildKnnGraphIndex(emb: DataFrame, indexRoot: String,
                         k: Int = 6, rounds: Int = 2,
                         numEntries: Int = 16): Long = {
    require(numEntries >= 1, s"buildKnnGraphIndex: numEntries must be >= 1, got $numEntries")
    val spark = emb.sparkSession
    val v = vectors(emb).localCheckpoint(true)
    new graft.operators.CommitTable(spark, s"$indexRoot/vectors", "vec_id")
      .overwrite(v.repartitionByRange(col("vec_id")))
    // evenly-spaced id-span points, snapped UP to the nearest existing id
    // (sparse-id-safe); a numEntries-candidate broadcast range join, never
    // a global sort
    val span = v.agg(min(col("vec_id")).as("lo"), (max(col("vec_id")) + 1).as("hi"))
    val cands = span.select(explode(sequence(lit(0), lit(numEntries - 1))).as("i"),
        col("lo"), col("hi"))
      .select((col("lo") + (col("i") * (col("hi") - col("lo"))) / numEntries)
        .cast("long").as("c"))
    val entries = v.select(col("vec_id")).join(broadcast(cands), col("vec_id") >= col("c"))
      .groupBy("c").agg(min(col("vec_id")).as("eid"))
      .select("eid").distinct()
    new graft.operators.CommitTable(spark, s"$indexRoot/entries", "eid")
      .overwrite(entries.coalesce(1))
    val edges = knnGraphEdges(emb, k, rounds)
    val gv = new graft.operators.CommitTable(spark, s"$indexRoot/graph", "src")
      .overwrite(edges.repartitionByRange(col("src"), col("dst")))
    // pin the three member heads as ONE atomic index version (the
    // catalog-commit shape) — [[knnGraphSearchAt]] resolves through it
    graft.operators.IndexManifest.commit(spark, indexRoot,
      Seq("vectors", "graph", "entries"))
    gv
  }

  /** Exact id-membership cut as a BROADCAST SEMI-JOIN against the (by
    * contract driver-bounded) id list — never `isin(ids: _*)`: a literal
    * in-list embeds every id into the plan, so a large query batch's
    * frontier (queries·beam ids) inflates analysis/codegen per hop,
    * while the semi-join's plan is constant-size and its build side is
    * the same driver list shipped once. The file cut stays
    * [[graft.operators.CommitTable.prunedReadIn]]'s job; this is the
    * row-exact residual. */
  private def idSemi(spark: SparkSession, df: DataFrame, idCol: String,
                     ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    df.join(broadcast(ids.toDF(idCol)), Seq(idCol), "left_semi")
  }

  /** A walk's query batch as driver data: `(query_id, qe, qn)` rows with
    * non-null ids (a null id matches no join), grouped by id, and the frame
    * over them — a LocalRelation, so Spark-side scoring broadcasts it with
    * no read. */
  private final class Queries(spark: SparkSession, rows: Seq[InternalRow], val schema: StructType) {
    val byId: Map[Long, Seq[InternalRow]] = rows.groupBy(_.getLong(0))
    val ids: Seq[Long] = byId.keys.toSeq.sorted
    lazy val frame: DataFrame = Bridge.localFrame(spark, schema, rows)
    /** The queries whose ids are `some`. */
    def only(some: Seq[Long]): Queries = new Queries(spark, some.flatMap(byId), schema)
  }

  /** The [[Queries]] of vector rows (`vec_id`, `e`, `nrm` by name) — a
    * vectors-table read or a [[vectors]] frame collected. */
  private def queriesOf(spark: SparkSession, d: CommitTable.DriverRows): Queries = {
    val Seq(vi, ei, ni) = Seq("vec_id", "e", "nrm").map(d.schema.fieldIndex)
    val Seq(ef, nf) = Seq(ei, ni).map(d.schema(_))
    new Queries(spark,
      d.rows.collect { case r if !r.isNullAt(vi) =>
        InternalRow(r.getLong(vi), r.get(ei, ef.dataType), r.get(ni, nf.dataType)) },
      StructType(Seq(d.schema(vi).copy(name = "query_id"), ef.copy(name = "qe"),
        nf.copy(name = "qn"))))
  }

  /** Collected rows of `df` in Catalyst's internal form. */
  private def collectInternal(df: DataFrame): Seq[InternalRow] = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(df.schema)
    df.collect().toSeq.map(toInternal(_).asInstanceOf[InternalRow])
  }

  /** The member query source of the head and `At` entries: the corpus
    * vectors with ids `0 until numQueries`, read at the pinned version
    * ([[CommitTable.driverRows]], within `budget`), minus the `dead` ids:
    * a tombstoned id cannot query (it has left the index). */
  private def memberQueries(spark: SparkSession, indexRoot: String, at: Map[String, Long],
                            dead: Set[Long], numQueries: Int, budget: Budget): Queries = {
    val d = new CommitTable(spark, s"$indexRoot/vectors", "vec_id").driverRows(
      Some(0L until numQueries.toLong), at.get("vectors"), "knnGraph member queries", budget)
    val vi = d.schema.fieldIndex("vec_id")
    queriesOf(spark, d.copy(rows = d.rows.filterNot(r => dead(r.getLong(vi)))))
  }

  /** Best-first routed search over a committed graph index (the
    * DiskANN/Vamana query loop, batched over all queries at once): seed
    * every query's beam with the committed entry set (NSW multi-search
    * restarts — see [[buildKnnGraphIndex]]), then for `hops` rounds
    * expand the whole beam — fetch the frontier's adjacency rows, score
    * the discovered vertices against their queries, keep each query's
    * `beam` best visited so far — and finally return each query's top-k
    * visited (self excluded). `(query_id, neighbor_id, rank, cos_1e6)`.
    *
    * Divergence from the sequential published loop (deliberate, for the
    * dataflow form): DiskANN expands ONE unvisited candidate per
    * iteration; this expands the ENTIRE current beam each hop and does not
    * track per-vertex visited flags — re-expansions cost only rows that
    * the pair-distinct collapses. Queries that are corpus members route
    * through their own vertex (cos = 1 keeps it at the beam head, so hop 1
    * already surfaces its committed neighbor list).
    *
    * IO contract (the index's point): each hop reads only the frontier's
    * adjacency rows and the candidates' vector rows — files whose
    * committed id window (or Bloom filter) misses the wanted set are never
    * opened, on either read path (spec-asserted on multi-file layouts).
    * Nothing else touches the corpus: a search is `hops` rounds of
    * file-pruned point reads, DiskANN's "O(beam · hops) disk reads per
    * query" shape, batched. Each read takes one of two paths:
    *  - when the cut files fit [[CommitTable.DriverBudget]]'s bytes
    *    ([[CommitTable.localReadIn]]), the driver decodes them with
    *    Spark's parquet reader and evaluates the same cosine Column as
    *    Spark does when it folds it over a LocalRelation
    *    ([[Bridge.localProjection]]) — no Spark job;
    *  - otherwise [[CommitTable.prunedReadIn]] and a broadcast join score
    *    in Spark, as one job per read.
    * The rank tail always runs on the driver (the visited set is driver
    * data), so a search whose reads fit the budget runs no Spark job at
    * all; both paths return the same rows, schema included
    * (spec-asserted).
    *
    * Tombstone-aware under the FreshDiskANN DeleteList contract: deleted
    * vertices still NAVIGATE (the walk scores them into the beam and uses
    * their adjacency — severing them before [[consolidateKnnGraphIndex]]
    * patches routes would punch reachability holes) but can never query
    * or enter RESULTS; consolidation later removes them physically. The
    * delete list resolves once per search, so queries and results are cut
    * by the same list.
    *
    * `predicate` is the graph family's filtered-ANN surface (s23's
    * IDSelector role): navigation stays UNFILTERED — the walk scores and
    * routes through non-matching vertices, the ACORN post-filtering shape
    * (Patel et al. 2024) — and the predicate gates RESULTS only, over the
    * visited rows' (vec_id) column (attribute predicates join their id
    * set first, the ivfTopKIndexed discipline). Under a highly selective
    * predicate recall needs a wider beam — the walk must visit enough
    * matching vertices to fill k — which the spec demonstrates; ACORN-γ's
    * expanded neighbor lists are the published scale-up when beam
    * widening stops paying.
    */
  def knnGraphSearch(spark: SparkSession, indexRoot: String,
                     numQueries: Int = 20, k: Int = 5,
                     beam: Int = 8, hops: Int = 3,
                     predicate: Option[Column] = None): DataFrame =
    memberSearch(spark, indexRoot, None, numQueries, k, beam, hops, predicate,
      CommitTable.DriverBudget)

  /** The graph index's EXTERNAL-queries serving entry
    * ([[Similarity.ivfSearchFor]]'s role): routed search for arbitrary
    * query vectors (`(vec_id, embedding)` rows that need not be corpus
    * members). Same walk, same IO contract, same tombstone semantics for
    * results — a corpus-member query frame reproduces [[knnGraphSearch]]
    * bit-for-bit (spec-asserted). Id contract: a query id EQUAL to a
    * corpus vec_id is treated as that member (the probe self-excludes by
    * id equality, so that corpus vector leaves the query's top-k) —
    * callers wanting pure-external semantics must use ids disjoint from
    * the committed id space, e.g. negative ids: an id collision is
    * indistinguishable from membership without a separate key space. */
  def knnGraphSearchFor(spark: SparkSession, indexRoot: String,
                        queryVecs: DataFrame, k: Int = 5,
                        beam: Int = 8, hops: Int = 3): DataFrame =
    externalSearch(spark, indexRoot, queryVecs, k, beam, hops, CommitTable.DriverBudget)

  /** [[knnGraphSearch]] AT a committed INDEX VERSION — the whole-index
    * time travel the per-table asOf cannot give: `indexVersion` resolves
    * through [[graft.operators.IndexManifest]] to one CONSISTENT pinned
    * set of member-table versions (vectors/graph/entries as they stood
    * together), so a query against "yesterday's index" never mixes
    * yesterday's graph with today's vectors. Same walk, same IO contract
    * (the versioned point reads prune files off the pinned commit's
    * stats). Tombstones are a head-state overlay by design — they apply
    * to live serving, not to historical replay — so this path reads the
    * pinned tables as committed.
    */
  def knnGraphSearchAt(spark: SparkSession, indexRoot: String, indexVersion: Long,
                       numQueries: Int = 20, k: Int = 5,
                       beam: Int = 8, hops: Int = 3): DataFrame =
    memberSearch(spark, indexRoot, Some(indexVersion), numQueries, k, beam, hops, None,
      CommitTable.DriverBudget)

  /** The body of [[knnGraphSearch]] (`indexVersion` None: raw member
    * heads, the live delete list) and [[knnGraphSearchAt]] (the manifest's
    * pinned versions, no delete list) under `budget`. */
  private[graft] def memberSearch(spark: SparkSession, indexRoot: String,
                                  indexVersion: Option[Long], numQueries: Int, k: Int,
                                  beam: Int, hops: Int, predicate: Option[Column],
                                  budget: Budget): DataFrame = {
    val entry = if (indexVersion.isEmpty) "knnGraphSearch" else "knnGraphSearchAt"
    require(beam >= k, s"$entry: beam $beam must be >= k $k")
    val (at, dead) = indexVersion match {
      case Some(v) => (graft.operators.IndexManifest.resolve(spark, indexRoot, Some(v)), Set.empty[Long])
      case None => (Map.empty[String, Long], Tombstones.latestIds(spark, indexRoot, "vec_id", budget))
    }
    searchPinned(spark, indexRoot, at, dead,
      memberQueries(spark, indexRoot, at, dead, numQueries, budget), k, beam, hops, predicate, budget)
  }

  /** The body of [[knnGraphSearchFor]] under `budget`. */
  private[graft] def externalSearch(spark: SparkSession, indexRoot: String,
                                    queryVecs: DataFrame, k: Int, beam: Int, hops: Int,
                                    budget: Budget): DataFrame = {
    require(beam >= k, s"knnGraphSearchFor: beam $beam must be >= k $k")
    val q = queriesOf(spark,
      CommitTable.collectWithin(vectors(queryVecs), "knnGraphSearchFor queries", budget))
    searchPinned(spark, indexRoot, Map.empty,
      Tombstones.latestIds(spark, indexRoot, "vec_id", budget), q, k, beam, hops, None, budget)
  }

  /** The one cosine search body behind the head, `At` and `For` entries:
    * the queries `q` walk the graph at the pinned member versions `at`
    * (empty: raw heads) in [[walkInChunks]]'s chunks, the `dead` ids leave
    * each chunk's visited rows, and `predicate` gates what is left before
    * the rank tail — so the driver keeps one chunk's visited set at a time
    * and every query's top-`k`. */
  private def searchPinned(spark: SparkSession, indexRoot: String, at: Map[String, Long],
                           dead: Set[Long], q: Queries, k: Int, beam: Int, hops: Int,
                           predicate: Option[Column], budget: Budget): DataFrame =
    rankedFrame(spark, walkInChunks(spark, indexRoot, q, at, beam, hops, budget) { (c, entries) =>
      ranked(spark, cosineVisited(spark, indexRoot, c, entries, beam, hops, at, budget)
        .filterNot(t => dead(t._2)), k, predicate)
    })

  /** The search rank tail of one walk's visited `(query_id, vec_id, cos)`
    * tuples, on the driver: each query's top-`k` in [[BeamOrder]] (the
    * window's `cos DESC, vec_id`), self excluded, after `predicate`
    * (evaluated by Spark over a LocalRelation, which it folds on the
    * driver), as `(query_id, neighbor_id, rank, cos)` rows in `(query_id,
    * rank)` order. */
  private def ranked(spark: SparkSession, visited: Seq[(Long, Long, Double)], k: Int,
                     predicate: Option[Column]): Seq[InternalRow] = {
    import spark.implicits._
    val kept = predicate.fold(visited)(p => visited.toDF("query_id", "vec_id", "cos").filter(p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    kept.filter(t => t._2 != t._1).groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, ts) =>
        ts.sorted(BeamOrder).take(k).zipWithIndex.map { case ((q, v, c), i) =>
          InternalRow(q, v, i + 1L, c) } }
  }

  /** [[ranked]] rows as the searches' LocalRelation-backed `(query_id,
    * neighbor_id, rank, cos_1e6)` frame; `cos_1e6` is the Column
    * `floor(cos · 1e6)` evaluated on the driver. */
  private def rankedFrame(spark: SparkSession, rows: Seq[InternalRow]): DataFrame = {
    val (schema, tail) = Bridge.localProjection(spark, RankedSchema, Seq(col("query_id"),
      col("neighbor_id"), col("rank"), floor(col("cos") * 1e6).cast("long").as("cos_1e6")))
    Bridge.localFrame(spark, schema, tail(rows))
  }

  private val RankedSchema = StructType(Seq("query_id", "neighbor_id", "rank")
    .map(StructField(_, LongType, nullable = false)) :+ StructField("cos", DoubleType, nullable = false))

  /** The walk's cosine over `(query_id, vec_id, e, nrm, qe, qn)` rows. */
  private val cosineCols = Seq(col("query_id"), col("vec_id"),
    (dot(col("e"), col("qe")) / (col("nrm") * col("qn"))).as("cos"))

  /** The walk's cosine, `(query_id, vec_id, cos)` of `(query_id, vec_id,
    * e, nrm, qe, qn)` rows — what the Spark scorer evaluates. */
  private[graft] def cosine(pairs: DataFrame): DataFrame = pairs.select(cosineCols: _*)

  /** [[cosine]] as a driver function over pair rows of `schema` — the
    * same Columns, evaluated the way Spark folds them over a
    * LocalRelation ([[Bridge.localProjection]]). */
  private[graft] def localCosine(spark: SparkSession,
                                 schema: StructType): Seq[InternalRow] => Seq[InternalRow] =
    Bridge.localProjection(spark, schema, cosineCols)._2

  /** `(query_id, vec_id, cos)` of the candidate pairs `cand` whose vector
    * ids are `ids`: one file-pruned point read of the vectors table `vecs`
    * at version `at`, joined to the candidates and the queries `q` — on
    * the driver when the read fits `budget` ([[CommitTable.localReadIn]];
    * the joins in Scala, [[localCosine]] over the pairs), else in Spark,
    * where only the scores come back. A pair scores once per row of its
    * vector, so at most `budget.rows` pairs go in (checked first) and
    * come out. */
  private def cosines(spark: SparkSession, vecs: CommitTable, at: Option[Long], q: Queries,
                      budget: Budget)(cand: Seq[(Long, Long)], ids: Seq[Long]): Seq[(Long, Long, Double)] =
    if (cand.isEmpty) Nil
    else {
      import spark.implicits._
      budget.requireRows("knnGraph walk candidates", cand.size)
      val scored = vecs.localReadIn(ids, at, budget) match {
        case Some(d) =>
          val (schema, pairs) = localPairs(d, ids, q, cand)
          localCosine(spark, schema)(pairs)
        case None =>
          collectInternal(cosine(cand.toDF("query_id", "vec_id")
            .join(idSemi(spark, vecs.prunedReadIn(ids, at), "vec_id", ids)
              .select("vec_id", "e", "nrm"), "vec_id")
            .join(broadcast(q.frame), "query_id")))
      }
      budget.requireRows("knnGraph walk scores", scored.length)
      scored.map { r =>
        if (r.isNullAt(2)) throw new NullPointerException(
          s"knnGraph walk: null cosine of query ${r.getLong(0)} and vector ${r.getLong(1)}")
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      }
    }

  /** The Spark scorer's two inner joins on driver data: `(query_id,
    * vec_id, e, nrm, qe, qn)` of each candidate pair whose vector is among
    * the `ids` rows of `vecs`, with their schema. */
  private def localPairs(vecs: CommitTable.DriverRows, ids: Seq[Long], q: Queries,
                         cand: Seq[(Long, Long)]): (StructType, Seq[InternalRow]) = {
    val vs = vecs.schema
    val Seq(vi, ei, ni) = Seq("vec_id", "e", "nrm").map(vs.fieldIndex)
    val (et, nt, qet, qnt) = (vs(ei).dataType, vs(ni).dataType, q.schema(1).dataType, q.schema(2).dataType)
    val wanted = ids.toSet
    val byVec = vecs.rows.filter(r => !r.isNullAt(vi) && wanted(r.getLong(vi))).groupBy(_.getLong(vi))
    val rows = for {
      (qid, vid) <- cand
      v <- byVec.getOrElse(vid, Nil)
      qr <- q.byId.getOrElse(qid, Nil)
    } yield InternalRow(qid, vid, v.get(ei, et), v.get(ni, nt), qr.get(1, qet), qr.get(2, qnt))
    (StructType(Seq(StructField("query_id", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      vs(ei), vs(ni), q.schema(1), q.schema(2))), rows)
  }

  /** The cosine walk of the queries `q` from the committed `entries`:
    * [[routedVisited]] scored by [[cosines]] in [[BeamOrder]], as
    * `(query_id, vec_id, cos)` — [[searchPinned]] ranks these into
    * results; [[appendKnnGraphIndex]] turns them into new adjacency. */
  private def cosineVisited(spark: SparkSession, indexRoot: String, q: Queries,
                            entries: Seq[Long], beam: Int, hops: Int, at: Map[String, Long],
                            budget: Budget): Seq[(Long, Long, Double)] = {
    val vecs = new CommitTable(spark, s"$indexRoot/vectors", "vec_id")
    routedVisited[Double](spark, indexRoot, q.ids, entries, beam, hops, at,
      cosines(spark, vecs, at.get("vectors"), q, budget), BeamOrder, budget)
  }

  /** `walk(chunk, entries)` over the queries `q`, chunk by chunk, in
    * query-id order: the committed entry set at `at` is read once (at most
    * `budget.rows` ids), `q` is cut up front into chunks whose walks fit
    * `budget.rows` when every hop adds one candidate per beam member
    * (`entries + hops · beam` tuples a query), and a chunk whose walk
    * still exceeds the bound — a hop adds up to the graph's out-degree per
    * beam member — is walked as two halves, down to single queries. Each
    * query walks independently, so the chunks' results are the whole
    * batch's. */
  private def walkInChunks[T](spark: SparkSession, indexRoot: String, q: Queries,
                              at: Map[String, Long], beam: Int, hops: Int, budget: Budget)(
                              walk: (Queries, Seq[Long]) => Seq[T]): Seq[T] = {
    val et = new CommitTable(spark, s"$indexRoot/entries", "eid")
    val d = et.driverRows(None, at.get("entries"), "knnGraph walk entries", budget)
    val ei = d.schema.fieldIndex("eid")
    val entries = d.rows.map(_.getLong(ei)).sorted
    def go(c: Queries): Seq[T] =
      try walk(c, entries)
      catch {
        case _: CommitTable.DriverBudgetExceeded if c.ids.size > 1 =>
          val (a, b) = c.ids.splitAt(c.ids.size / 2)
          go(c.only(a)) ++ go(c.only(b))
      }
    val perChunk = math.max(1L, budget.rows / math.max(1L, entries.size + hops.toLong * beam))
    q.ids.grouped(math.min(perChunk, Int.MaxValue).toInt).flatMap(g => go(q.only(g))).toSeq
  }

  /** The one beam loop: all `(query_id, vec_id, score)` tuples VISITED by
    * the multi-entry routed walk of the queries `queryIds` from the
    * committed `entries`, at the pinned member versions `at` (empty: raw
    * heads). `score(cand, ids)` scores the `(query_id, vec_id)` candidate
    * pairs whose vector ids are `ids` — cosines for the float walk, ADC
    * sums for [[pqGraphSearch]] — and each hop keeps every query's `beam`
    * best visited tuples in `order`.
    *
    * The walk's state lives on the DRIVER: the frontier and candidate ids
    * of each hop (≤ queries·beam and ≤ queries·beam·degree) and the
    * visited set (≤ queries·(entries + hops·beam·degree) small tuples).
    * Each hop runs the TWO file-pruned point reads the IO contract is
    * about: the frontier's adjacency rows ([[CommitTable.driverRows]]: on
    * the driver when the cut files fit `budget.bytes`, else one Spark
    * collect) and the candidates' scored rows. Every batch — adjacency,
    * candidates, scores and the visited set — is held to `budget.rows` and
    * fails loudly, naming the bound, past it ([[walkInChunks]] splits the
    * queries until each walk fits). Scores come from the score function's
    * Column expressions on either path, so results are bit-identical
    * whichever path each read took. The dedup is on whole tuples: the
    * same pair always scores bit-identically.
    */
  private def routedVisited[S](spark: SparkSession, indexRoot: String,
                               queryIds: Seq[Long], entries: Seq[Long], beam: Int, hops: Int,
                               at: Map[String, Long],
                               score: (Seq[(Long, Long)], Seq[Long]) => Seq[(Long, Long, S)],
                               order: Ordering[(Long, Long, S)],
                               budget: Budget): Seq[(Long, Long, S)] = {
    val graph = new CommitTable(spark, s"$indexRoot/graph", "src")
    def held(vis: Seq[(Long, Long, S)]): Seq[(Long, Long, S)] = {
      budget.requireRows("knnGraph walk visited set", vis.size)
      vis
    }
    var visited = held(score(for (q <- queryIds; e <- entries) yield (q, e), entries).distinct)
    // top-`beam` per query in `order` — row_number semantics
    def beamRows(vis: Seq[(Long, Long, S)]): Seq[(Long, Long, S)] =
      vis.groupBy(_._1).valuesIterator.flatMap(_.sorted(order).take(beam)).toSeq
    for (_ <- 1 to hops) {
      val bm = beamRows(visited)
      val frontier = bm.map(_._2).distinct.sorted
      val adj = graph.driverRows(Some(frontier), at.get("graph"), "knnGraph walk adjacency", budget)
      val (si, di) = (adj.schema.fieldIndex("src"), adj.schema.fieldIndex("dst"))
      val bySrc = adj.rows.map(r => (r.getLong(si), r.getLong(di))).groupBy(_._1)
      val cand = bm.flatMap { case (q, v, _) =>
        bySrc.getOrElse(v, Nil).map(e => (q, e._2)) }.distinct
      val candIds = cand.map(_._2).distinct.sorted
      visited = held((visited ++ score(cand, candIds)).distinct)
    }
    visited
  }

  /** Incrementally extends a committed graph index with NEW vectors — the
    * search-then-link insert of a streaming graph index (Singh et al.
    * 2021, "FreshDiskANN": an inserted point is connected to the
    * neighbors a routed search finds for it, and those neighbors gain
    * reverse edges to the new point so it is REACHABLE by later walks).
    * Caller contract: new ids are disjoint from every committed id (the
    * [[Similarity.appendIvfIndex]] discipline). Per batch:
    *  1. each new vector runs the standard multi-entry routed search
    *     against the COMMITTED graph (`linkK` results kept);
    *  2. forward edges (new → found) AND reverse edges (found → new) land
    *     as ONE atomic append on the graph table — reverse edges are what
    *     make the new points discoverable without a rebuild;
    *  3. the new vector rows land as one atomic append on the vectors
    *     table. The entries table is untouched (the entry set stays a
    *     valid spread of the id span; a drifted span is a rebuild signal).
    * Returns the committed graph version.
    *
    * Driver bound: the batch's vectors are collected to the driver once,
    * as the link search's queries (every scoring path, driver or Spark,
    * reads the query vectors from there) and as the rows the append
    * writes — at most [[CommitTable.DriverBudget]]'s rows, checked before
    * more are kept; a larger batch fails naming the bound and the caller
    * splits it. The search walks them in [[walkInChunks]]'s chunks; every
    * chunk walks the same committed graph, so chunked and whole-batch
    * links agree (spec-asserted).
    *
    * Deliberate divergences, documented: touched existing vertices' lists
    * GROW past k (FreshDiskANN re-prunes them; here the periodic rebuild
    * re-normalizes — the routed walk only reads more candidate rows in the
    * meantime), and intra-batch edges between two NEW points appear only
    * at the next rebuild (a daily shard against a large corpus rarely
    * self-neighbors; the spec pins the semantics either way).
    */
  def appendKnnGraphIndex(embNew: DataFrame, indexRoot: String,
                          linkK: Int = 6, beam: Int = 8, hops: Int = 3): Long =
    appendLinked(embNew, indexRoot, linkK, beam, hops, CommitTable.DriverBudget)

  /** The body of [[appendKnnGraphIndex]] under `budget`. */
  private[graft] def appendLinked(embNew: DataFrame, indexRoot: String, linkK: Int, beam: Int,
                                  hops: Int, budget: Budget): Long = {
    val spark = embNew.sparkSession
    import spark.implicits._
    // the rows walked are the rows appended: one evaluation of `embNew`
    val batch = CommitTable.collectWithin(vectors(embNew), "appendKnnGraphIndex new vectors", budget)
    // deleted vertices may still navigate the link search (the search
    // contract) but a NEW point never links TO one — FreshDiskANN's insert
    // filters its candidate list against the DeleteList
    val dead = Tombstones.latestIds(spark, indexRoot, "vec_id", budget)
    val linked = walkInChunks(spark, indexRoot, queriesOf(spark, batch), Map.empty, beam, hops,
        budget) { (c, entries) =>
      cosineVisited(spark, indexRoot, c, entries, beam, hops, Map.empty, budget)
        .filterNot(t => dead(t._2)).groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap(_._2.sorted(BeamOrder).take(linkK))
    }
    val edges = linked ++ linked.map { case (s, d, c) => (d, s, c) }
    new CommitTable(spark, s"$indexRoot/vectors", "vec_id")
      .append(Bridge.localFrame(spark, batch.schema, batch.rows).repartitionByRange(col("vec_id")))
    val gv = new CommitTable(spark, s"$indexRoot/graph", "src")
      .append(edges.toDF("src", "dst", "cos").repartitionByRange(col("src"), col("dst")))
    // one new index version pinning BOTH member appends — a manifest
    // reader never sees the new vectors without their reverse edges
    graft.operators.IndexManifest.commit(spark, indexRoot,
      Seq("vectors", "graph", "entries"))
    gv
  }

  /** Extends a committed graph index ([[buildKnnGraphIndex]]'s layout)
    * with the PQ artifacts the DISKANN QUERY LOOP navigates by — the
    * paper's actual memory/disk split (Subramanya et al., NeurIPS 2019):
    * compressed codes guide the whole walk (they fit in RAM at a scale
    * where raw vectors cannot), and full-precision vectors are touched
    * ONLY for the final re-rank. Two more commit-log tables under the
    * same root: `pqcodebook/` (m × ksub sub-centroids, driver-small) and
    * `codes/` (m one-byte codes per vector, vec_id-range-clustered so the
    * walk's point reads file-prune). Returns the committed codes version.
    */
  def addPqToKnnGraphIndex(emb: DataFrame, indexRoot: String,
                           m: Int = 8, ksub: Int = 16, dim: Int = 64): Long = {
    require(dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    val spark = emb.sparkSession
    import spark.implicits._
    val dsub = dim / m
    val v = vectors(emb).localCheckpoint(true)
    val cb = Similarity.pqCodebook(v, m, ksub, dsub)
    val cbDf = (for { j <- 0 until m; c <- cb(j).indices }
      yield (j, c, cb(j)(c).toSeq)).toDF("j", "c", "sub")
    new graft.operators.CommitTable(spark, s"$indexRoot/pqcodebook", "j")
      .overwrite(cbDf.coalesce(1))
    val cv = new graft.operators.CommitTable(spark, s"$indexRoot/codes", "vec_id")
      .overwrite(Similarity.pqEncode(v, cb, dsub)
        .repartitionByRange(col("vec_id")))
    graft.operators.IndexManifest.commit(spark, indexRoot,
      Seq("vectors", "graph", "entries", "pqcodebook", "codes"))
    cv
  }

  /** The DiskANN query loop proper, batched: beam search over the
    * committed graph where EVERY navigation step scores candidates by the
    * exact-integer ADC sum over the committed PQ codes — the raw float
    * vectors never feed the walk — and only the final `k·candFactor`
    * ADC-best visited candidates pay an exact cosine re-rank (one
    * file-pruned point read of the vectors table). IO per hop: frontier
    * adjacency + candidate CODE rows (m bytes/vector — the 32× narrower
    * artifact), both through
    * [[graft.operators.CommitTable.prunedReadIn]]; per query the whole
    * search reads O(beam · hops) code rows + O(k · candFactor) vector
    * rows, the paper's SSD-budget shape. ADC sums are longs (the LUT is
    * `floor(dot·1e6)` integers), so navigation is bit-deterministic and
    * the DuckDB mirror replays it exactly; ties break by vec_id. Beams
    * seed from the committed entry set like [[knnGraphSearch]].
    */
  def pqGraphSearch(spark: SparkSession, indexRoot: String,
                    numQueries: Int = 20, k: Int = 5,
                    beam: Int = 8, hops: Int = 3, candFactor: Int = 3,
                    dim: Int = 64): DataFrame = {
    require(beam >= k, s"pqGraphSearch: beam $beam must be >= k $k")
    val codesT = new graft.operators.CommitTable(spark, s"$indexRoot/codes", "vec_id")
    val cb = Similarity.readPqCodebook(spark, s"$indexRoot/pqcodebook")
    val m = cb.length
    require(dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    val dsub = dim / m
    val kEff = cb(0).length
    val lutCol = array((0 until m).map { j =>
      val cmat = typedLit(cb(j).map(_.toSeq).toSeq)
      array((0 until kEff).map(c =>
        floor(dot(Similarity.pqSubv(col("qe"), j, dsub), element_at(cmat, c + 1)) * 1e6)
          .cast("long")): _*)
    }: _*)
    // same DeleteList semantics as [[knnGraphSearch]], the list resolved
    // once: a tombstoned id cannot QUERY (it has left the index), keeps
    // NAVIGATING (the ADC walk routes through its adjacency), and never
    // enters RESULTS — dropped from the visited rows before the candidate cut
    val budget = CommitTable.DriverBudget
    val dead = Tombstones.latestIds(spark, indexRoot, "vec_id", budget)
    val q = memberQueries(spark, indexRoot, Map.empty, dead, numQueries, budget)
    val adcCol = (0 until m).map(j =>
      element_at(element_at(col("lut"), j + 1), element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val adcOrder = Ordering.by((t: (Long, Long, Long)) => (-t._3, t._2))
    val vecs = new CommitTable(spark, s"$indexRoot/vectors", "vec_id")
    import spark.implicits._
    rankedFrame(spark, walkInChunks(spark, indexRoot, q, Map.empty, beam, hops, budget) { (c, entries) =>
      // over the queries' LocalRelation: Spark folds the LUT on the driver
      val luts = c.frame.select(col("query_id"), lutCol.as("lut"))
      // the [[routedVisited]] walk, scored by exact-integer ADC sums over
      // the candidates' CODE rows (each hop: frontier adjacency + code
      // rows); pure longs, so the driver-held dedup/ranking is
      // bit-identical to a DataFrame distinct/window
      def scoreAdc(cand: Seq[(Long, Long)], ids: Seq[Long]): Seq[(Long, Long, Long)] =
        if (cand.isEmpty) Nil
        else {
          budget.requireRows("pqGraphSearch walk candidates", cand.size)
          val out = cand.toDF("query_id", "vec_id")
            .join(idSemi(spark, codesT.prunedReadIn(ids), "vec_id", ids)
              .select("vec_id", "codes"), "vec_id")
            .join(broadcast(luts), "query_id")
            .select(col("query_id"), col("vec_id"), adcCol.as("adc"))
            .collect()
          budget.requireRows("pqGraphSearch walk scores", out.length)
          out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        }
      val visited = routedVisited[Long](spark, indexRoot, c.ids, entries, beam, hops, Map.empty,
        scoreAdc, adcOrder, budget)
      // exact re-rank of each query's ADC-best k·candFactor visited (self
      // excluded; the window's `adc DESC, vec_id`) — the ONLY touch of
      // full-precision vectors in the whole query
      val cands = visited.filter { case (qid, v, _) => v != qid && !dead(v) }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap(_._2.sorted(adcOrder).take(k * candFactor)).map(t => (t._1, t._2))
      ranked(spark, cosines(spark, vecs, None, c, budget)(cands, cands.map(_._2).distinct.sorted),
        k, None)
    })
  }

  /** LINK-HEALTH instrument for a committed graph index (s40): the
    * graph family's `ivfDriftStats` — it tells a caller when accumulated
    * append/delete churn warrants the periodic full rebuild its docs
    * defer to (the 40%-recall-plateau symptom s38 measures). One row of
    * integer-exact aggregates:
    *  - `n_edges`, `n_vertices` — live adjacency size;
    *  - `tomb_out_share_1e6` — share of edges whose SOURCE is tombstoned
    *    (dead vertices still navigating, FreshDiskANN's DeleteList debt);
    *  - `tomb_in_share_1e6` — share of LIVE vertices' out-edges pointing
    *    AT tombstoned vertices (wasted beam slots per hop);
    *  - `stale_vertices_1e6` — share of live vertices with ≥ half their
    *    out-list tombstoned (the vertices whose neighborhoods one-hop
    *    repair will degrade — the rebuild trigger);
    *  - `append_edge_share_1e6` — share of edge ROWS committed by
    *    appends since the last full graph rewrite (build/consolidation),
    *    from LOG METADATA alone: a file's staging version rides in its
    *    `d<version>-` directory name and its rowcount in the log stats,
    *    so this half costs zero data reads. Search-then-link appends
    *    grow out-lists past the build's degree cap and skip the build's
    *    NN-Descent refinement — a high share means walk quality drifts
    *    from the build contract.
    * Cost: ONE pass over the graph table (a src-grouped aggregate that
    * rides the table's own src clustering) + log-sized driver metadata.
    * All shares are floor(x·1e6) integers — deterministic, mirror-able.
    * Monotone under churn by construction (each append/delete only adds
    * to its numerator until consolidation clears both).
    */
  def knnGraphLinkStats(spark: SparkSession, indexRoot: String,
                        adjacency: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val graph = new graft.operators.CommitTable(spark, s"$indexRoot/graph", "src")
    val appendShare = appendEdgeShare(graph)
    // tombstone shares — one src-grouped pass over the adjacency (the
    // tombstone read is already distinct, so no id counts twice)
    val del = Tombstones.read(spark, indexRoot, "vec_id")
      .map(_.select(col("vec_id").as("__t")))
      .getOrElse(Seq.empty[Long].toDF("__t"))
    // monitoring loops probing repeatedly between TOMBSTONE-ONLY
    // mutations may pass a materialized `(src, dst)` frame — deletes
    // commit tombstones and never touch the graph table, so the
    // adjacency is provably identical across such probes and re-scanning
    // it per probe is pure waste.
    // Callers own the staleness contract: pass None after anything that
    // rewrites adjacency (build, append, consolidate, OPTIMIZE).
    val g = adjacency.getOrElse(graph.read().select("src", "dst"))
    val marked = g
      .join(broadcast(del.select(col("__t").as("__ts"))),
        col("src") === col("__ts"), "left")
      .join(broadcast(del.select(col("__t").as("__td"))),
        col("dst") === col("__td"), "left")
      .select(col("src"), col("__ts").isNotNull.as("s_t"),
        col("__td").isNotNull.as("d_t"))
    val perSrc = marked.groupBy("src")
      .agg(first(col("s_t")).as("s_t"), count(lit(1)).as("deg"),
        sum(when(col("d_t"), 1L).otherwise(0L)).as("tomb_out"))
    perSrc.agg(
        sum(col("deg")).as("edges"),
        count(lit(1)).as("verts"),
        sum(when(col("s_t"), col("deg")).otherwise(0L)).as("dead_src_edges"),
        sum(when(!col("s_t"), col("tomb_out")).otherwise(0L)).as("live_tomb_out"),
        sum(when(!col("s_t"), col("deg")).otherwise(0L)).as("live_deg"),
        sum(when(!col("s_t") && col("tomb_out") * 2 >= col("deg"), 1L)
          .otherwise(0L)).as("stale"),
        sum(when(!col("s_t"), 1L).otherwise(0L)).as("live_verts"))
      .select(
        col("edges").as("n_edges"),
        col("verts").as("n_vertices"),
        // integral `div` (Column `/` is double division — inexact past
        // 2^53, and shares must be integer-exact at any scale)
        expr("(dead_src_edges * 1000000) div greatest(edges, 1)")
          .as("tomb_out_share_1e6"),
        expr("(live_tomb_out * 1000000) div greatest(live_deg, 1)")
          .as("tomb_in_share_1e6"),
        expr("(stale * 1000000) div greatest(live_verts, 1)")
          .as("stale_vertices_1e6"),
        lit(appendShare).as("append_edge_share_1e6"))
  }

  /** [[knnGraphLinkStats]] for SEVERAL tombstone states over ONE shared
    * adjacency in a SINGLE aggregation pass — the monitoring-loop fusion:
    * a lifecycle instrument probing between tombstone-only mutations
    * re-reads the same adjacency and re-runs the same grouped aggregate
    * once per probe; since tombstone commits are
    * versioned and immutable, the per-state delete lists can be read back
    * AFTER the fact ([[Tombstones.readAt]]) and every state's integer
    * shares fold in one job (guide §2.3/§2.4 — one pass, conditional
    * aggregates per state). Each returned row is bit-identical to
    * [[knnGraphLinkStats]] run against that state (spec-asserted):
    * `(n_edges, n_vertices, tomb_out_share_1e6, tomb_in_share_1e6,
    * stale_vertices_1e6, append_edge_share_1e6)` per delete set, in
    * order. The append share is log metadata of the graph table — the
    * caller's contract is that `adjacency` is current and only
    * tombstone-state differs across `delSets`, so it is computed once.
    */
  private[graft] def knnGraphLinkStatsStates(
      spark: SparkSession, indexRoot: String, adjacency: DataFrame,
      delSets: Seq[DataFrame]): Seq[org.apache.spark.sql.Row] = {
    require(delSets.nonEmpty, "knnGraphLinkStatsStates: need at least one state")
    val appendShare = appendEdgeShare(
      new graft.operators.CommitTable(spark, s"$indexRoot/graph", "src"))
    val n = delSets.length
    var marked = adjacency.select(col("src"), col("dst"))
    delSets.zipWithIndex.foreach { case (del, i) =>
      // distinct: a repeated id would duplicate its edges in the left joins
      val ids = del.select(col(del.columns.head).cast("long").as("__id")).distinct()
      marked = marked
        .join(broadcast(ids.select(col("__id").as(s"__ts$i"))),
          col("src") === col(s"__ts$i"), "left")
        .join(broadcast(ids.select(col("__id").as(s"__td$i"))),
          col("dst") === col(s"__td$i"), "left")
    }
    val flagCols = col("src") +: (0 until n).flatMap(i => Seq(
      col(s"__ts$i").isNotNull.as(s"s_t$i"),
      col(s"__td$i").isNotNull.as(s"d_t$i")))
    val perSrcAggs = count(lit(1)).as("deg") +: (0 until n).flatMap(i => Seq(
      first(col(s"s_t$i")).as(s"s_t$i"),
      sum(when(col(s"d_t$i"), 1L).otherwise(0L)).as(s"tomb_out$i")))
    val perSrc = marked.select(flagCols: _*)
      .groupBy("src").agg(perSrcAggs.head, perSrcAggs.tail: _*)
    val finalAggs = Seq(sum(col("deg")).as("edges"), count(lit(1)).as("verts")) ++
      (0 until n).flatMap(i => Seq(
        sum(when(col(s"s_t$i"), col("deg")).otherwise(0L)).as(s"dead$i"),
        sum(when(!col(s"s_t$i"), col(s"tomb_out$i")).otherwise(0L)).as(s"ltout$i"),
        sum(when(!col(s"s_t$i"), col("deg")).otherwise(0L)).as(s"ldeg$i"),
        sum(when(!col(s"s_t$i") && col(s"tomb_out$i") * 2 >= col("deg"), 1L)
          .otherwise(0L)).as(s"stale$i"),
        sum(when(!col(s"s_t$i"), 1L).otherwise(0L)).as(s"lverts$i")))
    val r = perSrc.agg(finalAggs.head, finalAggs.tail: _*).head()
    val edges = r.getLong(r.fieldIndex("edges"))
    val verts = r.getLong(r.fieldIndex("verts"))
    // integral division over non-negative longs — identical to the SQL
    // `div` the single-state form uses
    (0 until n).map { i =>
      def f(nm: String) = r.getLong(r.fieldIndex(s"$nm$i"))
      org.apache.spark.sql.Row(
        edges, verts,
        f("dead") * 1000000L / math.max(edges, 1L),
        f("ltout") * 1000000L / math.max(f("ldeg"), 1L),
        f("stale") * 1000000L / math.max(f("lverts"), 1L),
        appendShare)
    }
  }

  /** `append_edge_share_1e6` of the link-health stats, from log metadata
    * alone: the share of `graph`'s rows staged by appends after the last
    * full rewrite (build, consolidation, OPTIMIZE). A file's staging
    * version rides in its `d<version>-<nonce>` directory name. */
  private def appendEdgeShare(graph: graft.operators.CommitTable): Long = {
    val metaOps = Set("set-invariants", "delete-dv", "rename-column", "drop-column")
    val lastRebuild = graph.history().select("version", "op").collect()
      .collect { case r if r.getString(1) != "append" && !metaOps(r.getString(1)) =>
        r.getLong(0) }.max
    val fileRows = graph.fileStats().select("path", "n").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def stagedVersion(p: String): Long = {
      val dir = p.split('/').takeRight(2).head
      dir.substring(1, dir.indexOf('-')).toLong
    }
    val totalRows = fileRows.map(_._2).sum
    val appendRows = fileRows.collect {
      case (p, n) if stagedVersion(p) > lastRebuild => n }.sum
    if (totalRows == 0L) 0L else appendRows * 1000000L / totalRows
  }

  /** Removes vectors from a committed graph index — FreshDiskANN's
    * DeleteList (Singh et al. 2021): one atomic O(deleted) tombstone
    * commit; nothing in the graph or vectors tables is read or rewritten.
    * Deleted vertices leave RESULTS (and new points' link candidates)
    * immediately but keep NAVIGATING — their adjacency still carries walks
    * across the graph — until [[consolidateKnnGraphIndex]] re-routes
    * around them and drops them physically. Severing them eagerly would
    * punch reachability holes in every path that crossed them.
    */
  def deleteFromKnnGraphIndex(ids: DataFrame, indexRoot: String): Long =
    Tombstones.delete(ids, indexRoot, "vec_id")

  /** FreshDiskANN's DELETE CONSOLIDATION, as one deterministic dataflow:
    * for each deleted vertex d, every surviving in-neighbor of d is
    * offered d's surviving out-neighbors as replacement edges (the paper's
    * local repair: routes that crossed d now skip it), deduplicated,
    * capped at `patchK` per source by (cos desc, dst) with cosines
    * recomputed from the surviving vectors; then
    *  - `graph/` rewrites as surviving edges ∪ patch (one range-clustered
    *    overwrite commit — file pruning survives),
    *  - `vectors/` rewrites without the deleted rows,
    *  - `entries/` re-snaps: a deleted entry vertex is replaced by the
    *    smallest surviving id at or above it (the build's snapping rule;
    *    falls back to the smallest surviving id), and
    *  - the delete list clears.
    * Documented divergence (shared with the paper's batch consolidation):
    * the repair is ONE hop — a path through two ADJACENT deleted vertices
    * is not re-stitched; the periodic full rebuild re-normalizes. Returns
    * the new graph version; no-op (current head) when nothing is
    * tombstoned. Requires at least one surviving vector.
    */
  def consolidateKnnGraphIndex(spark: SparkSession, indexRoot: String,
                               patchK: Int = 6): Long = {
    val graph = new graft.operators.CommitTable(spark, s"$indexRoot/graph", "src")
    // the delete list resolves ONCE, pinned at its latest version, and
    // every exclusion below applies that one list
    val dead = Tombstones.latestVersion(spark, indexRoot, "vec_id")
      .map(Tombstones.readAt(spark, indexRoot, "vec_id", _))
    if (dead.forall(_.isEmpty))
      return graph.latestVersion().getOrElse(
        throw new IllegalStateException(s"no committed graph at $indexRoot"))
    def live(df: DataFrame, c: String): DataFrame = Tombstones.excludeIn(df, dead.get, "vec_id", c)
    val vecs = new graft.operators.CommitTable(spark, s"$indexRoot/vectors", "vec_id")
    val entries = new graft.operators.CommitTable(spark, s"$indexRoot/entries", "eid")
    val del = broadcast(dead.get.withColumnRenamed("vec_id", "d"))
    val g = graph.read().select("src", "dst", "cos").localCheckpoint(true)
    // one-hop repair pairs: (surviving in-neighbor of d) × (surviving
    // out-neighbor of d) — per-d fan-in × fan-out, bounded by the graph's
    // degree contract (lists are k-capped at build; appends grow them only
    // until the next rebuild)
    val into = live(g.join(del, g("dst") === col("d")).select(col("src"), col("d")), "src")
    val outof = live(g.join(del, g("src") === col("d")).select(col("d"), col("dst")), "dst")
    val kept = live(live(g, "src"), "dst").localCheckpoint(true)
    val patchPairs = into.join(outof, "d")
      .select("src", "dst").filter(col("src") =!= col("dst")).distinct()
      .join(kept.select("src", "dst").distinct(), Seq("src", "dst"), "left_anti")
    val vKept = live(vecs.read(), "vec_id")
      .select("vec_id", "e", "nrm").localCheckpoint(true)
    // validate the degenerate case BEFORE the first overwrite commit: a
    // fully tombstoned index must fail without mutating any head (failing
    // after the graph/vectors overwrites would leave a broken
    // half-consolidated index with stale entries and uncleared tombstones)
    val minSurvRow = vKept.agg(min(col("vec_id"))).head()
    require(!minSurvRow.isNullAt(0),
      s"consolidateKnnGraphIndex: every vector at $indexRoot is tombstoned — rebuild instead")
    val minSurv = minSurvRow.getLong(0)
    val a = vKept.select(col("vec_id").as("src"), col("e").as("se"), col("nrm").as("sn"))
    val b = vKept.select(col("vec_id").as("dst"), col("e").as("de"), col("nrm").as("dn"))
    val wp = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val patch = patchPairs.join(a, "src").join(b, "dst")
      .withColumn("cos", dot(col("se"), col("de")) / (col("sn") * col("dn")))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= patchK)
      .select("src", "dst", "cos")
    val v = graph.overwrite(kept.select("src", "dst", "cos").unionByName(patch)
      .repartitionByRange(col("src"), col("dst")))
    vecs.overwrite(vKept.repartitionByRange(col("vec_id")))
    // entry re-snap: numEntries-bounded broadcast against the survivors
    val e0 = entries.read().select("eid")
    val snapped = vKept.select(col("vec_id")).join(broadcast(e0), col("vec_id") >= col("eid"))
      .groupBy("eid").agg(min(col("vec_id")).as("s"))
    val newEntries = e0.join(snapped, Seq("eid"), "left")
      .select(coalesce(col("s"), lit(minSurv)).as("eid")).distinct()
    entries.overwrite(newEntries.coalesce(1))
    Tombstones.clear(spark, indexRoot, "vec_id")
    graft.operators.IndexManifest.commit(spark, indexRoot,
      Seq("vectors", "graph", "entries"))
    v
  }

  /** DuckDB mirror of [[buildKnnGraphIndex]] + [[knnGraphSearch]]: the
    * graph CTEs at the BUILD configuration (`buildK`, `rounds`), then the
    * search loop replayed as `hops` generated beam-update blocks — same
    * entry vertex (min id), same whole-beam expansion, same
    * (cos desc, id) beam keep, same final self-excluded top-k. The commit
    * round trip is content-preserving (parquet round-trips binary64), so
    * searching the committed index equals searching the freshly built
    * graph. */
  def knnGraphSearchSql(numQueries: Int = 20, k: Int = 5,
                        beam: Int = 8, hops: Int = 3,
                        buildK: Int = 6, rounds: Int = 2,
                        numEntries: Int = 16,
                        resFilter: String = "TRUE",
                        baseFilter: String = "TRUE"): String = {
    val (ctes, fin) = graphCtes(buildK, rounds, baseFilter)
    val sb = new StringBuilder
    sb.append(ctes)
    sb.append(
      s"""span AS MATERIALIZED (SELECT min(vec_id) AS lo, max(vec_id) + 1 AS hi FROM n),
         |ecand AS MATERIALIZED (SELECT span.lo + (u.i * (span.hi - span.lo)) // $numEntries AS c
         |          FROM span, UNNEST(range(0, $numEntries)) AS u(i)),
         |entries AS MATERIALIZED (SELECT DISTINCT eid FROM (
         |  SELECT min(n.vec_id) AS eid FROM ecand JOIN n ON n.vec_id >= ecand.c GROUP BY ecand.c)),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n WHERE vec_id < $numQueries),
         |vis0 AS MATERIALIZED (SELECT q.query_id, i.vec_id,
         |                list_dot_product(i.e, q.qe) / (i.nrm * q.qn) AS cos
         |         FROM q CROSS JOIN entries JOIN n i ON i.vec_id = entries.eid),
         |beam0 AS MATERIALIZED (SELECT query_id, vec_id, cos FROM (
         |  SELECT query_id, vec_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM vis0) WHERE rn <= $beam),
         |""".stripMargin)
    for (h <- 1 to hops) {
      sb.append(
        s"""cand$h AS MATERIALIZED (SELECT DISTINCT b.query_id, g.dst AS vec_id
           |  FROM beam${h - 1} b JOIN $fin g ON g.src = b.vec_id),
           |sc$h AS MATERIALIZED (SELECT c.query_id, c.vec_id,
           |                list_dot_product(i.e, q.qe) / (i.nrm * q.qn) AS cos
           |  FROM cand$h c JOIN n i ON i.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id),
           |vis$h AS MATERIALIZED (SELECT DISTINCT query_id, vec_id, cos FROM (
           |  SELECT query_id, vec_id, cos FROM vis${h - 1}
           |  UNION ALL SELECT query_id, vec_id, cos FROM sc$h)),
           |beam$h AS MATERIALIZED (SELECT query_id, vec_id, cos FROM (
           |  SELECT query_id, vec_id, cos,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
           |  FROM vis$h) WHERE rn <= $beam),
           |""".stripMargin)
    }
    s"""WITH ${sb.toString}
       |fin AS MATERIALIZED (SELECT query_id, vec_id, cos,
       |               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |        FROM vis$hops WHERE vec_id <> query_id AND ($resFilter))
       |SELECT query_id, vec_id AS neighbor_id, rank::BIGINT AS rank,
       |       floor(cos * 1e6)::BIGINT AS cos_1e6
       |FROM fin WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** A generated beam-loop block over adjacency CTE `graphCte`, scoring
    * against vector CTE `vecCte`, starting from `vis0Cte`; CTE names are
    * prefixed with `tag` so two loops coexist in one statement. Returns
    * the final visited CTE's name. */
  private def beamLoopCtes(sb: StringBuilder, tag: String, graphCte: String,
                           vecCte: String, vis0Cte: String,
                           beam: Int, hops: Int): String = {
    sb.append(
      s"""${tag}beam0 AS MATERIALIZED (SELECT query_id, vec_id, cos FROM (
         |  SELECT query_id, vec_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM $vis0Cte) WHERE rn <= $beam),
         |""".stripMargin)
    for (h <- 1 to hops) {
      sb.append(
        s"""${tag}cand$h AS MATERIALIZED (SELECT DISTINCT b.query_id, g.dst AS vec_id
           |  FROM ${tag}beam${h - 1} b JOIN $graphCte g ON g.src = b.vec_id),
           |${tag}sc$h AS MATERIALIZED (SELECT c.query_id, c.vec_id,
           |                list_dot_product(i.e, q.qe) / (i.nrm * q.qn) AS cos
           |  FROM ${tag}cand$h c JOIN $vecCte i ON i.vec_id = c.vec_id
           |  JOIN ${tag}q q ON q.query_id = c.query_id),
           |${tag}vis$h AS MATERIALIZED (SELECT DISTINCT query_id, vec_id, cos FROM (
           |  SELECT query_id, vec_id, cos FROM ${if (h == 1) vis0Cte else s"${tag}vis${h - 1}"}
           |  UNION ALL SELECT query_id, vec_id, cos FROM ${tag}sc$h)),
           |${tag}beam$h AS MATERIALIZED (SELECT query_id, vec_id, cos FROM (
           |  SELECT query_id, vec_id, cos,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
           |  FROM ${tag}vis$h) WHERE rn <= $beam),
           |""".stripMargin)
    }
    s"${tag}vis$hops"
  }

  /** DuckDB mirror of build-on-subset + [[appendKnnGraphIndex]] per batch
    * + [[knnGraphSearch]] end-to-end: the graph CTEs restricted to the
    * BUILD corpus (every id outside all `batches`), the entry set over
    * that corpus, then one generated beam loop PER BATCH — batch i's
    * search-then-link scores against exactly the vectors committed before
    * it (build ∪ batches 1..i−1, the state the engine's i-th append sees)
    * over the graph extended by every earlier batch's forward+reverse
    * links — and a final query walk over the fully extended graph scoring
    * against ALL vectors. `batches` are `[lo, hi)` id ranges in append
    * order; the default single batch is s26's configuration. */
  def knnGraphAppendSearchSql(batches: Seq[(Long, Long)] = Seq((0L, 100L)),
                              numQueries: Int = 20,
                              k: Int = 5, beam: Int = 8, hops: Int = 3,
                              buildK: Int = 6, rounds: Int = 2,
                              numEntries: Int = 16, linkK: Int = 6): String = {
    require(batches.nonEmpty, "knnGraphAppendSearchSql: need at least one batch")
    val buildFilter = batches
      .map { case (lo, hi) => s"NOT (vec_id >= $lo AND vec_id < $hi)" }
      .mkString(" AND ")
    val (ctes, fin) = graphCtes(buildK, rounds, buildFilter)
    val sb = new StringBuilder
    sb.append(ctes)
    sb.append(
      s"""span AS MATERIALIZED (SELECT min(vec_id) AS lo, max(vec_id) + 1 AS hi FROM n),
         |ecand AS MATERIALIZED (SELECT span.lo + (u.i * (span.hi - span.lo)) // $numEntries AS c
         |          FROM span, UNNEST(range(0, $numEntries)) AS u(i)),
         |entries AS MATERIALIZED (SELECT DISTINCT eid FROM (
         |  SELECT min(n.vec_id) AS eid FROM ecand JOIN n ON n.vec_id >= ecand.c GROUP BY ecand.c)),
         |vall AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |nall AS MATERIALIZED (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM vall),
         |nv0 AS MATERIALIZED (SELECT vec_id, e, nrm FROM n),
         |g0 AS MATERIALIZED (SELECT src, dst, cos FROM $fin),
         |""".stripMargin)
    var graphCte = "g0"
    var vecCte = "nv0"
    batches.zipWithIndex.foreach { case ((lo, hi), bi) =>
      val i = bi + 1
      sb.append(
        s"""a${i}q AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM nall
           |  WHERE vec_id >= $lo AND vec_id < $hi),
           |a${i}vis0 AS MATERIALIZED (SELECT q.query_id, i.vec_id,
           |                 list_dot_product(i.e, q.qe) / (i.nrm * q.qn) AS cos
           |          FROM a${i}q q CROSS JOIN entries JOIN $vecCte i ON i.vec_id = entries.eid),
           |""".stripMargin)
      val aFinal = beamLoopCtes(sb, s"a$i", graphCte, vecCte, s"a${i}vis0", beam, hops)
      sb.append(
        s"""a${i}link AS MATERIALIZED (SELECT query_id, vec_id, cos FROM (
           |  SELECT query_id, vec_id, cos,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
           |  FROM $aFinal) WHERE rn <= $linkK),
           |g$i AS MATERIALIZED (SELECT src, dst, cos FROM $graphCte
           |          UNION ALL SELECT query_id, vec_id, cos FROM a${i}link
           |          UNION ALL SELECT vec_id, query_id, cos FROM a${i}link),
           |nv$i AS MATERIALIZED (SELECT vec_id, e, nrm FROM $vecCte
           |          UNION ALL SELECT vec_id, e, nrm FROM nall
           |          WHERE vec_id >= $lo AND vec_id < $hi),
           |""".stripMargin)
      graphCte = s"g$i"
      vecCte = s"nv$i"
    }
    sb.append(
      s"""fq AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM nall WHERE vec_id < $numQueries),
         |fvis0 AS MATERIALIZED (SELECT fq.query_id, i.vec_id,
         |                 list_dot_product(i.e, fq.qe) / (i.nrm * fq.qn) AS cos
         |          FROM fq CROSS JOIN entries JOIN nall i ON i.vec_id = entries.eid),
         |""".stripMargin)
    val fFinal = beamLoopCtes(sb, "f", graphCte, "nall", "fvis0", beam, hops)
    s"""WITH ${sb.toString}
       |rfin AS MATERIALIZED (SELECT query_id, vec_id, cos,
       |               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |        FROM $fFinal WHERE vec_id <> query_id)
       |SELECT query_id, vec_id AS neighbor_id, rank::BIGINT AS rank,
       |       floor(cos * 1e6)::BIGINT AS cos_1e6
       |FROM rfin WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB mirror of [[buildKnnGraphIndex]] + [[addPqToKnnGraphIndex]] +
    * [[pqGraphSearch]]: the build CTEs, the PQ seed/encode/LUT CTEs
    * (verbatim [[Similarity.pqTopKSql]] shapes), then the beam loop with
    * ADC scoring — every hop scores candidates by the same exact-integer
    * sum over the code table — and the final exact re-rank of the
    * ADC-best `k·candFactor`. Navigation is integer arithmetic end to
    * end, so the walk replays bit-for-bit.
    */
  def pqGraphSearchSql(numQueries: Int = 20, k: Int = 5,
                       beam: Int = 8, hops: Int = 3,
                       buildK: Int = 6, rounds: Int = 2,
                       numEntries: Int = 16, m: Int = 8, ksub: Int = 16,
                       candFactor: Int = 3, dim: Int = 64): String = {
    val dsub = dim / m
    def sub(e: String) = s"list_slice($e, j.j * $dsub + 1, j.j * $dsub + $dsub)"
    val (ctes, fin) = graphCtes(buildK, rounds)
    val sb = new StringBuilder
    sb.append(ctes)
    sb.append(
      s"""span AS MATERIALIZED (SELECT min(vec_id) AS lo, max(vec_id) + 1 AS hi FROM n),
         |ecand AS MATERIALIZED (SELECT span.lo + (u.i * (span.hi - span.lo)) // $numEntries AS c
         |          FROM span, UNNEST(range(0, $numEntries)) AS u(i)),
         |entries AS MATERIALIZED (SELECT DISTINCT eid FROM (
         |  SELECT min(n.vec_id) AS eid FROM ecand JOIN n ON n.vec_id >= ecand.c GROUP BY ecand.c)),
         |seeds AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, e
         |          FROM v ORDER BY vec_id LIMIT $ksub),
         |pcodes AS MATERIALIZED (
         |  SELECT vec_id, j, c AS code FROM (
         |    SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
         |    FROM (SELECT v.vec_id, j.j AS j, s.c AS c,
         |            list_dot_product(${sub("s.e")}, ${sub("s.e")})
         |            - 2 * list_dot_product(${sub("v.e")}, ${sub("s.e")}) AS d
         |          FROM v, range(0, $m) AS j(j), seeds s))
         |  WHERE rn = 1),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n
         |  WHERE vec_id < $numQueries),
         |lut AS MATERIALIZED (SELECT q.query_id, j.j AS j, s.c AS c,
         |          floor(list_dot_product(${sub("q.qe")}, ${sub("s.e")}) * 1e6)::BIGINT AS p
         |        FROM q, range(0, $m) AS j(j), seeds s),
         |cand0 AS MATERIALIZED (SELECT q.query_id, entries.eid AS vec_id
         |  FROM q CROSS JOIN entries),
         |vis0 AS MATERIALIZED (SELECT c.query_id, c.vec_id, SUM(l.p)::BIGINT AS adc
         |  FROM cand0 c JOIN pcodes cd ON cd.vec_id = c.vec_id
         |  JOIN lut l ON l.query_id = c.query_id AND l.j = cd.j AND l.c = cd.code
         |  GROUP BY 1, 2),
         |beam0 AS MATERIALIZED (SELECT query_id, vec_id, adc FROM (
         |  SELECT query_id, vec_id, adc,
         |         row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
         |  FROM vis0) WHERE rn <= $beam),
         |""".stripMargin)
    for (h <- 1 to hops) {
      sb.append(
        s"""cand$h AS MATERIALIZED (SELECT DISTINCT b.query_id, g.dst AS vec_id
           |  FROM beam${h - 1} b JOIN $fin g ON g.src = b.vec_id),
           |sc$h AS MATERIALIZED (SELECT c.query_id, c.vec_id, SUM(l.p)::BIGINT AS adc
           |  FROM cand$h c JOIN pcodes cd ON cd.vec_id = c.vec_id
           |  JOIN lut l ON l.query_id = c.query_id AND l.j = cd.j AND l.c = cd.code
           |  GROUP BY 1, 2),
           |vis$h AS MATERIALIZED (SELECT DISTINCT query_id, vec_id, adc FROM (
           |  SELECT query_id, vec_id, adc FROM vis${h - 1}
           |  UNION ALL SELECT query_id, vec_id, adc FROM sc$h)),
           |beam$h AS MATERIALIZED (SELECT query_id, vec_id, adc FROM (
           |  SELECT query_id, vec_id, adc,
           |         row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
           |  FROM vis$h) WHERE rn <= $beam),
           |""".stripMargin)
    }
    s"""WITH ${sb.toString}
       |cr AS MATERIALIZED (SELECT query_id, vec_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS crank
       |      FROM vis$hops WHERE vec_id <> query_id),
       |x AS MATERIALIZED (SELECT cr.query_id, cr.vec_id,
       |        list_dot_product(cv.e, q.qe) / (cv.nrm * q.qn) AS cos
       |      FROM cr JOIN n cv ON cv.vec_id = cr.vec_id
       |             JOIN q ON q.query_id = cr.query_id
       |      WHERE cr.crank <= ${k * candFactor}),
       |f AS MATERIALIZED (SELECT query_id, vec_id, cos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |      FROM x)
       |SELECT query_id, vec_id AS neighbor_id, rank::BIGINT AS rank,
       |       floor(cos * 1e6)::BIGINT AS cos_1e6
       |FROM f WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB mirror of [[buildKnnGraphIndex]] + [[deleteFromKnnGraphIndex]]
    * + [[consolidateKnnGraphIndex]] + [[knnGraphSearch]]: the build CTEs
    * over the full corpus, then the consolidation's one-hop repair
    * replayed relationally — kept = edges with neither endpoint deleted
    * (`delFilter` is the "is deleted" predicate over vec_id); patch =
    * (surviving in-neighbor × surviving out-neighbor) per deleted vertex,
    * self-pairs and already-kept pairs removed, cosines recomputed from
    * the survivors, capped at `patchK` per source by (cos desc, dst);
    * entries re-snapped to the smallest surviving id at or above each
    * build entry — then the standard beam walk over the patched graph
    * scoring survivors only. The commit round trips are
    * content-preserving, so this IS the post-consolidation search. */
  def knnGraphDeleteSearchSql(delFilter: String,
                              numQueries: Int = 20,
                              k: Int = 5, beam: Int = 8, hops: Int = 3,
                              buildK: Int = 6, rounds: Int = 2,
                              numEntries: Int = 16, patchK: Int = 6): String = {
    val (ctes, fin) = graphCtes(buildK, rounds)
    val sb = new StringBuilder
    sb.append(ctes)
    sb.append(
      s"""span AS MATERIALIZED (SELECT min(vec_id) AS lo, max(vec_id) + 1 AS hi FROM n),
         |ecand AS MATERIALIZED (SELECT span.lo + (u.i * (span.hi - span.lo)) // $numEntries AS c
         |          FROM span, UNNEST(range(0, $numEntries)) AS u(i)),
         |entries0 AS MATERIALIZED (SELECT DISTINCT eid FROM (
         |  SELECT min(n.vec_id) AS eid FROM ecand JOIN n ON n.vec_id >= ecand.c GROUP BY ecand.c)),
         |del AS MATERIALIZED (SELECT vec_id AS d FROM n WHERE $delFilter),
         |sn AS MATERIALIZED (SELECT vec_id, e, nrm FROM n WHERE NOT ($delFilter)),
         |g0 AS MATERIALIZED (SELECT src, dst, cos FROM $fin),
         |kept AS MATERIALIZED (SELECT g.src, g.dst, g.cos FROM g0 g
         |  WHERE g.src NOT IN (SELECT d FROM del) AND g.dst NOT IN (SELECT d FROM del)),
         |pinto AS MATERIALIZED (SELECT g.src, g.dst AS d FROM g0 g
         |  WHERE g.dst IN (SELECT d FROM del) AND g.src NOT IN (SELECT d FROM del)),
         |poutof AS MATERIALIZED (SELECT g.src AS d, g.dst FROM g0 g
         |  WHERE g.src IN (SELECT d FROM del) AND g.dst NOT IN (SELECT d FROM del)),
         |ppairs AS MATERIALIZED (SELECT DISTINCT i.src, o.dst
         |  FROM pinto i JOIN poutof o ON i.d = o.d
         |  WHERE i.src <> o.dst
         |    AND NOT EXISTS (SELECT 1 FROM kept kk WHERE kk.src = i.src AND kk.dst = o.dst)),
         |patch AS MATERIALIZED (SELECT src, dst, cos FROM (
         |  SELECT p.src, p.dst,
         |         list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos,
         |         row_number() OVER (PARTITION BY p.src
         |           ORDER BY list_dot_product(a.e, b.e) / (a.nrm * b.nrm) DESC, p.dst) AS rn
         |  FROM ppairs p JOIN sn a ON a.vec_id = p.src JOIN sn b ON b.vec_id = p.dst)
         |  WHERE rn <= $patchK),
         |pg AS MATERIALIZED (SELECT src, dst, cos FROM kept
         |  UNION ALL SELECT src, dst, cos FROM patch),
         |entries AS MATERIALIZED (SELECT DISTINCT coalesce(
         |    (SELECT min(s2.vec_id) FROM sn s2 WHERE s2.vec_id >= e.eid),
         |    (SELECT min(s3.vec_id) FROM sn s3)) AS eid
         |  FROM entries0 e),
         |fq AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM sn
         |  WHERE vec_id < $numQueries),
         |fvis0 AS MATERIALIZED (SELECT fq.query_id, i.vec_id,
         |                 list_dot_product(i.e, fq.qe) / (i.nrm * fq.qn) AS cos
         |          FROM fq CROSS JOIN entries JOIN sn i ON i.vec_id = entries.eid),
         |""".stripMargin)
    val fFinal = beamLoopCtes(sb, "f", "pg", "sn", "fvis0", beam, hops)
    s"""WITH ${sb.toString}
       |rfin AS MATERIALIZED (SELECT query_id, vec_id, cos,
       |               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |        FROM $fFinal WHERE vec_id <> query_id)
       |SELECT query_id, vec_id AS neighbor_id, rank::BIGINT AS rank,
       |       floor(cos * 1e6)::BIGINT AS cos_1e6
       |FROM rfin WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
}
