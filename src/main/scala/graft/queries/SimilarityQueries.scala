package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{KnnGraph, SequentialCorpus, Similarity}
import Oracle.{Derived, Sql, values}
import QuerySupport._

/** Similarity search: exact and approximate top-k, persisted IVF / PQ /
  * graph / BM25 indexes and their mutation lifecycles.
  */
private[graft] object SimilarityQueries {

  val all: Seq[Query] = Seq(
    Query("s1_cosine_topk", (s, dir) => Similarity.cosineTopK(Tables.embeddings(s, dir)),
      Sql(Similarity.cosineTopKSql())),
    Query("s18_mrl_rerank", (s, dir) => // Matryoshka coarse-to-fine ANN: the
      // candidate scan ranks on the FIRST 8 dimensions only (MRL
      // embeddings front-load information — the scan reads a fraction of
      // the bytes), exact full-dim cosine re-rank on k·candFactor rows;
      // SQ8's bandwidth argument on the dimension axis (they compose)
      Similarity.mrlTopK(Tables.embeddings(s, dir)),
      Sql(Similarity.mrlTopKSql())),
    Query("s17_hard_negatives", (s, dir) => // contrastive hard-negative
      // mining (DPR/SimCSE recipe): per query the top-k most-similar
      // vectors with a DIFFERENT label — same scan/window plan as s1,
      // one extra predicate in the broadcast join
      Similarity.hardNegatives(Tables.embeddings(s, dir)),
      Sql(Similarity.hardNegativesSql())),
    Query("s2_ann_lsh", (s, dir) => // approximate vs EXACT top-k, but fully
      // deterministic given the seeded hyperplanes — so the oracle mirrors
      // the LSH pipeline itself; recall vs exact is asserted in
      // SimilaritySpec
      Similarity.lshTopK(Tables.embeddings(s, dir)),
      Sql(Similarity.lshTopKSql())),
    Query("s3_ann_ivf", (s, dir) => // iters=1: seed centroids (lowest ids) plus
      // ONE k-means refinement step — the refinement path itself is now
      // gated: the per-dimension means are quantized to a
      // 1e-6 grain so the refined centroids are deterministic and the
      // oracle mirrors the full step; deeper refinement (iters=2) stays
      // recall-tested in SimilaritySpec
      Similarity.ivfTopK(Tables.embeddings(s, dir), iters = 1),
      Sql(Similarity.ivfTopKSql())),
    Query("s6_gram_matrix", (s, dir) => // distributed Gram/covariance matrix
      // (the PCA/whitening Σ): per-row upper-triangle outer products, ONE
      // (i,j) shuffle with map-side partial sums — shuffle volume is
      // partitions × dim², independent of corpus size; result driver-small
      // by contract (dim×dim), like IVF's centroids
      Similarity.gramMatrix(Tables.embeddings(s, dir)),
      Sql(Similarity.gramMatrixSql())),
    Query("s8_knn_classify", (s, dir) => // kNN majority-vote classification
      // over the exact top-k neighbors: integer vote on top of s1's float
      // discipline, ties toward the smaller label on both engines
      Similarity.knnClassify(Tables.embeddings(s, dir)),
      Sql(Similarity.knnClassifySql())),
    Query("s7_pq_rerank", (s, dir) => // product-quantized ADC scan + exact
      // re-rank (the FAISS IVFPQ memory path): m one-byte codes per vector
      // (64x narrower than the float64 scan), query-side integer LUT, the
      // corpus pass sums m table entries and never touches the floats;
      // deterministic seed codebooks so the oracle mirrors the pipeline
      Similarity.pqTopK(Tables.embeddings(s, dir)),
      Sql(Similarity.pqTopKSql())),
    Query("s5_sq8_rerank", (s, dir) => // int8 scalar-quantized candidate scan
      // + exact re-rank: the quantized-memory ANN tier (8× narrower scan
      // than s1's float64 pass); deterministic end-to-end, so the oracle
      // mirrors the full quantize→int-rank→refine pipeline
      Similarity.sq8TopK(Tables.embeddings(s, dir)),
      Sql(Similarity.sq8TopKSql())),
    Query("s4_label_centroids", (s, dir) => // per-label element-wise embedding
      // mean: posexplode -> one (label, pos) shuffle with partial sums; a
      // group's vectors are never materialized together
      Similarity.labelCentroids(Tables.embeddings(s, dir)),
      Sql(Similarity.labelCentroidsSql)),
    Query("s9_kmeans", (s, dir) => // Lloyd k-means — THE curation clustering
      // primitive (SemDeDup / domain balancing start here): deterministic
      // seed/tie/quantization contract so the independent sequential-model
      // VALUES oracle reproduces every assignment exactly; corpus scanned
      // once per round against broadcast codebook literals, means via the
      // (cluster, pos) partial-sum shuffle
      Similarity.kMeans(Tables.embeddings(s, dir), k = 8, numIter = 5),
      Derived(in => values("cluster" -> "BIGINT", "n" -> "BIGINT", "inertia_6" -> "DOUBLE")(
        SequentialCorpus.kMeans(in.vectors, k = 8, numIter = 5), "cluster"))),
    Query("s11_silhouette", (s, dir) => // simplified (centroid-based)
      // silhouette of the s9 clustering — the cluster-quality diagnostic
      // that is linear where true silhouette is quadratic; zero extra
      // passes on top of the shared Lloyd core (the final assignment frame
      // already carries all k distances)
      Similarity.kMeansSilhouette(Tables.embeddings(s, dir), k = 8, numIter = 5),
      Derived(in => values("cluster" -> "BIGINT", "n" -> "BIGINT", "silhouette_6" -> "DOUBLE")(
        SequentialCorpus.kMeansSilhouette(in.vectors, k = 8, numIter = 5), "cluster"))),
    Query("s16_jl_sketch", (s, dir) => // Johnson–Lindenstrauss random
      // projection: data-INdependent dimensionality reduction (planes from
      // the seed alone — no corpus statistics, so it composes with
      // streaming ingest, unlike PCA's two-pass fit); one scan against
      // broadcast literal planes, micro-quantized codegen'd dots compared
      // exactly against the same fold in DuckDB
      Similarity.jlSketch(Tables.embeddings(s, dir)),
      Sql(Similarity.jlSketchSql())),
    Query("s15_pca", (s, dir) => // PCA spectrum of the corpus embeddings —
      // the variance structure read before whitening / OPQ rotation /
      // dimension reduction: ONE corpus pass into exact integer (S, P)
      // sums (d²-sized exchange, codebook-collect discipline), driver
      // Jacobi with per-sweep 1e-9 state quantization so the independent
      // sequential mirror iterates from identical state every sweep
      Similarity.pcaSpectrum(Tables.embeddings(s, dir)),
      Derived(in => values("component" -> "BIGINT", "eigenvalue_e9" -> "BIGINT", "evr_ppm" -> "BIGINT")(
        SequentialCorpus.pcaSpectrum(in.vectors), "component"))),
    Query("s10_mmr", (s, dir) => // maximal-marginal-relevance diversified
      // top-k: greedy λ·rel − (1−λ)·max-sim-to-selected over the relevance
      // pool — the anti-near-dup retrieval answer; corpus-sized work is one
      // broadcast-query relevance pass, greedy picks are k distributed
      // argmax steps over the checkpointed pool
      Similarity.mmrSelect(Tables.embeddings(s, dir), queryId = 0L, k = 10,
        poolSize = 50, lambda = 0.7),
      Derived(in => values("pos" -> "BIGINT", "vec_id" -> "BIGINT", "score_6" -> "DOUBLE")(
        SequentialCorpus.mmr(in.vectors, queryId = 0L, k = 10, poolSize = 50,
        lambda = 0.7), "pos"))),
    Query("s12_ivf_persisted", (s, dir) => {
      // the production "build index once, query it many times" shape:
      // the IVF codebook + inverted lists land
      // as two commit-log tables (atomic versions, time travel, refresh =
      // one new commit; lists repartitioned by cid so per-file stats prune
      // unprobed lists); the query path reads the COMMITTED index and runs
      // zero k-means jobs (listener-asserted in SimilaritySpec). Same
      // build configuration as s3, so the persisted round trip reproduces
      // ivfTopK bit-for-bit and shares its oracle. Deterministic build →
      // process-wide template (IndexCache); probe read-only per execution.
      val idx = IndexCache.template(s"ivf|$dir|full")(
        Similarity.buildIvfIndex(Tables.embeddings(s, dir), _))
      Similarity.ivfTopKIndexed(s, idx)
    },
      // the committed index reproduces ivfTopK
      // bit-for-bit (same training configuration, parquet round-trips
      // doubles exactly), so the persisted path shares s3's full mirror
      Sql(Similarity.ivfTopKSql())),
    Query("s23_ivf_filtered", (s, dir) => {
      // FILTERED ANN over the persisted index (production vector search
      // is almost always predicated: "top-k similar AND lang = 'en' AND
      // date > X"): the FAISS IDSelector
      // shape, a predicate over the committed list rows applied INSIDE
      // the probed lists BEFORE ranking — over-fetch + post-filter would
      // break the k contract under a selective filter; this path keeps
      // it. Same build configuration as s12 (shared memoized template),
      // so the oracle is s3's mirror with the same candidate predicate.
      val idx = IndexCache.template(s"ivf|$dir|full")(
        Similarity.buildIvfIndex(Tables.embeddings(s, dir), _))
      Similarity.ivfTopKIndexed(s, idx,
        predicate = Some(col("vec_id") % 7 === 3))
    },
      // the IDSelector predicate restricts CANDIDATES
      // inside the probed lists on both engines; queries are unfiltered
      Sql(Similarity.ivfTopKSql(candFilter = "vec_id % 7 = 3"))),
    Query("s24_knn_graph", (s, dir) => // NN-Descent k-NN graph (Dong et al.
      // 2011) — the graph-based index family's construction half: id-ring
      // init, then per round every vertex introduces its (capped)
      // forward+reverse neighbors to each other and keeps its k best.
      // Linear candidate volume per round (n·(2k)²), nothing all-pairs;
      // the deterministic dataflow form is replayed CTE-for-CTE by the
      // DuckDB mirror.
      KnnGraph.knnGraph(Tables.embeddings(s, dir)),
      // the identical NN-Descent dataflow as generated
      // CTE rounds — bit-equality, not a recall bound
      Sql(KnnGraph.knnGraphSql())),
    Query("s25_graph_ann", (s, dir) => {
      // graph-routed ANN over the COMMITTED index (the DiskANN/Vamana
      // query shape): vectors/graph/entry land as three commit-log
      // tables at build time; a search is `hops` rounds of file-pruned
      // point reads (frontier adjacency + candidate vectors), never a
      // corpus scan. The mirror replays build + beam loop end-to-end.
      // The deterministic build is a process-wide template (IndexCache);
      // the search runs per execution, read-only.
      val idx = IndexCache.template(s"knng|$dir|full")(
        KnnGraph.buildKnnGraphIndex(Tables.embeddings(s, dir), _))
      KnnGraph.knnGraphSearch(s, idx)
    },
      // build CTEs at the build config + the beam loop
      // as generated hop blocks; the commit round trip is
      // content-preserving, so committed search == fresh-graph search
      Sql(KnnGraph.knnGraphSearchSql())),
    Query("s26_graph_append", (s, dir) => {
      // search-then-link incremental insert (the FreshDiskANN shape):
      // the index builds on the vec_id >= 100 corpus, the first 100
      // vectors arrive as an append batch — each is linked to what a
      // routed search finds for it, and REVERSE edges make the batch
      // reachable — then the standard query walk runs over the extended
      // index. Queries (< 20) are themselves appended nodes, so the
      // gate only passes if the append's reverse-edge semantics hold.
      // Build is a memoized template; the append MUTATES, so it runs on
      // a private copy per execution (IndexCache isolation contract).
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.privateCopy(s"knng|$dir|ge100", "knnapp")(
        KnnGraph.buildKnnGraphIndex(emb.filter(col("vec_id") >= 100), _))
      KnnGraph.appendKnnGraphIndex(emb.filter(col("vec_id") < 100), idx)
      KnnGraph.knnGraphSearch(s, idx)
    },
      // build on the >= 100 corpus, the append's
      // search-then-link loop for the < 100 batch (scored against BUILD
      // vectors — the committed state the engine's append sees), then
      // the final walk over graph ∪ forward ∪ reverse edges
      Sql(KnnGraph.knnGraphAppendSearchSql())),
    Query("s35_ivf_versions", (s, dir) => {
      // the manifest adopted by the IVF family (its build commits
      // centroids then lists — a racing reader could score new lists
      // against an old codebook): head probe sees the appended index,
      // the v0 probe replays the build-only index through one pinned
      // member set. Build+append chain memoized (s19/s36's split-template
      // shape); both probes are read-only, so they share the template.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.template(s"ivf|$dir|lt300+ge300") { p =>
        Similarity.buildIvfIndex(emb.filter(col("vec_id") < 300), p)   // index v0
        Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 300), p) // index v1
      }
      Similarity.ivfTopKIndexed(s, idx).withColumn("phase", lit("head"))
        .unionByName(Similarity.ivfTopKIndexedAt(s, idx, 0L).withColumn("phase", lit("v0")))
    },
      // head = train-on-prefix assign-all (the append
      // mirror); v0 = the whole pipeline restricted to the build corpus
      Sql(s"""WITH h AS (${Similarity.ivfTopKSql(trainFilter = "vec_id < 300")}),
         |z AS (${Similarity.ivfTopKSql(baseFilter = "vec_id < 300")})
         |SELECT query_id, neighbor_id, rank, cos_1e6, 'head' AS phase FROM h
         |UNION ALL
         |SELECT query_id, neighbor_id, rank, cos_1e6, 'v0' AS phase FROM z""".stripMargin)),
    Query("s38_lifecycle_recall", (s, dir) => {
      // ANN QUALITY UNDER CHURN (the recall instrument runs AFTER the full
      // lifecycle, not only at build time): build on the tail corpus →
      // search-then-link append → tombstone delete → consolidate (one-hop
      // repair) → OPTIMIZE (clustered graph compaction) → routed walk,
      // then recall@k per query against the exact scan over the SURVIVING
      // corpus. The contract is two exact-integer floors (the
      // ann-benchmarks protocol's shape): per query n_hit·10 ≥ n_exact·4
      // (recall ≥ 40% — churn legitimately costs the tail: one query's
      // exact neighbors stay at 2/5 under ANY beam/hops once its links
      // route through the deleted range; measured plateau at sf0.01),
      // and FLEET-wide Σn_hit·10 ≥ Σn_exact·7 (mean recall ≥ 70%). If
      // churn degrades the repaired graph below either floor, rows flip
      // and the gate hash-fails. The gate pins the SCALED configuration
      // (build degree k=10/rounds=3, linkK=12, beam=64/hops=5): the
      // cheap k=6 default that the plan-correctness gates use goes
      // recall-blind as the corpus grows (sf0.1 sweep: 8/20 queries
      // under 40%, mean 31% — a too-sparse graph cannot be walked back
      // to quality), while degree and beam scaled with corpus hold both
      // floors at BOTH gate scales (sf0.01 AND sf0.1 measured; DiskANN's
      // published configs make the same degree-vs-recall trade). Build
      // memoized under its own key; every lifecycle mutation runs on a
      // private copy per execution.
      val emb = Tables.embeddings(s, dir)
      // this row PROBES the committed churned ARTIFACT: the artifact construction — build →
      // append → delete → consolidate → OPTIMIZE, every stage
      // deterministic by the engine's integer-exact build contract — is a
      // memoized template like every other probe row's build (s33/s34
      // discipline; stage-level mechanics stay per-execution-asserted in
      // KnnGraphSpec and the lifecycle is per-execution-timed by
      // s26/s28/st24); what this row DECLARES — the full routed walk over
      // the churned artifact plus the recall floors against the exact
      // scan — runs per execution, nothing of it memoized.
      val idx = IndexCache.template(s"knng|$dir|lifecycle38") { p =>
        KnnGraph.buildKnnGraphIndex(emb.filter(col("vec_id") >= 100), p,
          k = 10, rounds = 3)
        KnnGraph.appendKnnGraphIndex(emb.filter(col("vec_id") < 100), p, linkK = 12)
        KnnGraph.deleteFromKnnGraphIndex(
          emb.filter(col("vec_id") >= 150 && col("vec_id") < 200).select("vec_id"), p)
        KnnGraph.consolidateKnnGraphIndex(s, p)
        new graft.operators.CommitTable(s, s"$p/graph", "src")
          .compactClustered("src", targetFiles = 4)
      }
      val approx = KnnGraph.knnGraphSearch(s, idx, beam = 64, hops = 5)
      // the exact recall floor is COMPUTED PER EXECUTION (a memo of this
      // result would make the timed row a read-back of precomputed answers)
      val exact = Similarity.cosineTopK(
        emb.filter(col("vec_id") < 150 || col("vec_id") >= 200))
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Similarity.recallAtK(approx, exact)
        .select(col("query_id"),
          (col("n_hit") * 10 >= col("n_exact") * 4).as("ge_floor"),
          (sum(col("n_hit") * 10).over(wAll) >= sum(col("n_exact") * 7).over(wAll))
            .as("fleet_ge_mean"))
        .orderBy("query_id")
    },
      // the contract row: every query's post-churn
      // recall@5 must clear the exact-integer 40% per-query floor AND the
      // fleet mean must clear 70% — the Spark side computes recall from
      // the lifecycle-mutated index vs the exact scan; any query below
      // either floor flips its row and hash-fails
      Sql("""SELECT range::BIGINT AS query_id, true AS ge_floor, true AS fleet_ge_mean
        |FROM range(0, 20) ORDER BY query_id""".stripMargin)),
    Query("s37_maxsim", (s, dir) => // ColBERT-style late-interaction MaxSim
      // re-ranking (sum over query tokens of the max dot against document
      // tokens) over deterministic hashed-projection token embeddings —
      // the dense-retrieval granularity between one pooled vector (s1)
      // and full cross-attention; every similarity integer-exact, the
      // type-grid dot table broadcast, per-query cost linear in corpus
      graft.llm.Retrieval.maxSimTopK(Tables.documents(s, dir)),
      // same tokenizer / lowest-hash query truncation /
      // hashed-projection grid / max-sum algebra
      Sql(graft.llm.Retrieval.maxSimTopKSql())),
    Query("s36_bm25_versions", (s, dir) => {
      // ...and by the BM25 family, where the race is sharpest: an append
      // commits postings and the stats delta separately, so an unpinned
      // reader could score new postings against the OLD n/sum_dl. Head
      // query == the full-corpus scorer; the v0 query == the build-half
      // index exactly.
      // Same build+append chain as s19 → shared memoized template; both
      // probes (head and manifest-pinned v0) are read-only.
      val docs = Tables.documents(s, dir)
      val idx = IndexCache.template(s"bm25|$dir|split") { p =>
        graft.llm.Retrieval.buildBm25Index(docs.filter(col("doc_id") % 2 === 0), p)
        graft.llm.Retrieval.appendBm25Index(docs.filter(col("doc_id") % 2 =!= 0), p)
      }
      graft.llm.Retrieval.bm25TopKIndexed(s, idx, Bm25QueryTerms, k = 15)
        .withColumn("phase", lit("head"))
        .unionByName(graft.llm.Retrieval
          .bm25TopKIndexedAt(s, idx, 0L, Bm25QueryTerms, k = 15)
          .withColumn("phase", lit("v0")))
    },
      Derived { in =>
        // the v0 (build-half) index == a standalone index over even docs
        val idfEven = SequentialCorpus.bm25Idf(
          in.textsWhere(col("doc_id") % 2 === 0), Bm25QueryTerms)
        s"""WITH h AS (${bm25Sql(in)}),
           |z AS (${graft.llm.Retrieval.bm25TopKSql(idfEven, k = 15,
                      docFilter = "doc_id % 2 = 0")})
           |SELECT doc_id, score_e6, 'head' AS phase FROM h
           |UNION ALL
           |SELECT doc_id, score_e6, 'v0' AS phase FROM z""".stripMargin
      }),
    Query("s34_index_versions", (s, dir) => {
      // ATOMIC MULTI-TABLE INDEX VERSIONS (the catalog-commit shape): a
      // graph index is three commit-log tables; build/append pin their
      // member heads as ONE manifest commit, so a reader never mixes new
      // vectors with the pre-append graph — and the whole index time
      // travels as a unit: the head search sees the appended state, the
      // v0 search replays the build-only index exactly. Build+append
      // chain memoized like s19/s36's split template (both halves are
      // deterministic); BOTH probes here are read-only, so they share it.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.template(s"knng|$dir|lt300+ge300") { p =>
        KnnGraph.buildKnnGraphIndex(emb.filter(col("vec_id") < 300), p)   // index v0
        KnnGraph.appendKnnGraphIndex(emb.filter(col("vec_id") >= 300), p) // index v1
      }
      KnnGraph.knnGraphSearch(s, idx).withColumn("phase", lit("head"))
        .unionByName(KnnGraph.knnGraphSearchAt(s, idx, 0L).withColumn("phase", lit("v0")))
    },
      // head = the append mirror over the extended
      // graph; v0 = the build-only mirror restricted to the build corpus —
      // that the manifest snapshot reproduces it IS the atomicity claim
      Sql(s"""WITH h AS (${KnnGraph.knnGraphAppendSearchSql(batches = Seq((300L, 500L)))}),
         |z AS (${KnnGraph.knnGraphSearchSql(baseFilter = "vec_id < 300")})
         |SELECT query_id, neighbor_id, rank, cos_1e6, 'head' AS phase FROM h
         |UNION ALL
         |SELECT query_id, neighbor_id, rank, cos_1e6, 'v0' AS phase FROM z""".stripMargin)),
    Query("s39_index_vacuum", (s, dir) => {
      // INDEX-LEVEL RETENTION closing the lifecycle (s34's index under a
      // storage budget): a per-member-table vacuum cannot know which
      // member versions an older INDEX version pins — vacuumIndex
      // resolves the kept manifest versions to their exact member pins
      // and reclaims everything else, so the kept window keeps replaying
      // and the head search is untouched. Same build+append chain as
      // s34; after vacuumIndex(keep = 1) the head search must still
      // equal the append mirror bit-for-bit — which IS this gate's
      // oracle. The pinned-window protection and the reclaim count are
      // spec-asserted in KnnGraphSpec.
      val emb = Tables.embeddings(s, dir)
      // s34's chain template; the vacuum MUTATES → private copy.
      val idx = IndexCache.privateCopy(s"knng|$dir|lt300+ge300", "idxvac") { p =>
        KnnGraph.buildKnnGraphIndex(emb.filter(col("vec_id") < 300), p)   // index v0
        KnnGraph.appendKnnGraphIndex(emb.filter(col("vec_id") >= 300), p) // index v1
      }
      graft.operators.IndexManifest.vacuumIndex(s, idx, keepLastIndexVersions = 1)
      KnnGraph.knnGraphSearch(s, idx)
    },
      // the post-vacuum head search must still equal
      // the append mirror bit-for-bit — retention reclaimed ONLY what no
      // kept index version references
      Sql(KnnGraph.knnGraphAppendSearchSql(batches = Seq((300L, 500L))))),
    Query("s33_pq_graph_ann", (s, dir) => {
      // the DiskANN query loop PROPER (memory/disk split included): the
      // committed graph walked with exact-integer PQ-ADC navigation —
      // code rows (m bytes/vector) are the only corpus-sized reads — and
      // full-precision vectors touched ONLY for the final k·candFactor
      // exact re-rank. The mirror replays seeds/codes/LUT and every hop's
      // integer ADC bit-for-bit. Build + PQ-add are both deterministic
      // artifact construction → one memoized template; the ADC walk
      // itself runs per execution, read-only.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.template(s"knngpq|$dir|full") { p =>
        KnnGraph.buildKnnGraphIndex(emb, p)
        KnnGraph.addPqToKnnGraphIndex(emb, p)
      }
      KnnGraph.pqGraphSearch(s, idx)
    },
      // build + PQ CTEs + the ADC-navigated beam loop
      // as generated hop blocks (integer navigation replays exactly),
      // then the exact re-rank of the ADC-best k·candFactor
      Sql(KnnGraph.pqGraphSearchSql())),
    Query("s31_ivf_drift", (s, dir) => {
      // codebook-drift monitoring (the instrument behind appendIvfIndex's
      // "caller owns drift policy"): per committed list, the index's
      // population + quantization residual beside a NEW shard's under the
      // same fixed codebook — exact integers, so rebuild thresholds are
      // plain arithmetic over this frame. Memoized build; the drift
      // instrument only READS the index.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.template(s"ivf|$dir|ge100")(
        Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 100), _))
      Similarity.ivfDriftStats(emb.filter(col("vec_id") < 100), idx)
    },
      // train on the build corpus, assign both sides
      // with the committed codebook, aggregate residuals per list
      Sql(Similarity.ivfDriftSql(trainFilter = "vec_id >= 100",
        idxFilter = "vec_id >= 100", shardFilter = "vec_id < 100"))),
    Query("s32_recall_eval", (s, dir) => {
      // recall@k evaluation (the ann-benchmarks protocol as an operator):
      // the IVF probe scored per query against the exact scan — the
      // quality dial every index deployment monitors, in exact integers.
      val emb = Tables.embeddings(s, dir)
      Similarity.recallAtK(Similarity.ivfTopK(emb), Similarity.cosineTopK(emb))
    },
      // both ranked pipelines joined per query — the
      // recall arithmetic restated in the same integer units
      Sql(s"""WITH a AS (${Similarity.ivfTopKSql()}),
         |e AS (${Similarity.cosineTopKSql()})
         |SELECT e.query_id,
         |       SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         |       COUNT(*)::BIGINT AS n_exact,
         |       (SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |          * 1000000 // COUNT(*))::BIGINT AS recall_e6
         |FROM e LEFT JOIN a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin)),
    Query("s30_graph_filtered", (s, dir) => {
      // FILTERED graph ANN (s23's IDSelector role for the graph family,
      // the ACORN post-filtering shape): navigation stays unfiltered —
      // the walk routes through non-matching vertices — and the
      // predicate gates results only, so a selective filter still
      // returns ranked matches (widened beam feeds it enough visited
      // candidates; the spec pins the k contract). Shared memoized
      // build (same artifact as s25); the filtered walk is read-only.
      val idx = IndexCache.template(s"knng|$dir|full")(
        KnnGraph.buildKnnGraphIndex(Tables.embeddings(s, dir), _))
      KnnGraph.knnGraphSearch(s, idx, beam = 16,
        predicate = Some(col("vec_id") % 3 === 1))
    },
      // unfiltered navigation, predicate on the
      // final ranking only — both engines gate the same visited set
      Sql(KnnGraph.knnGraphSearchSql(beam = 16, resFilter = "vec_id % 3 = 1"))),
    Query("s27_ivf_delete", (s, dir) => {
      // the DELETE half of the index lifecycle (FAISS remove_ids as the
      // delete-list shape): one O(deleted) tombstone commit makes the
      // range vanish from probes immediately; consolidation drops the
      // physical rows. Because the exclusion is a pure row filter on the
      // committed lists, BOTH phases equal the one filtered mirror — the
      // gate row carries them side by side to prove it. Shared memoized
      // build; tombstone + consolidate mutate → private copy.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.privateCopy(s"ivf|$dir|full", "ivfdel")(
        Similarity.buildIvfIndex(emb, _))
      Similarity.deleteFromIvfIndex(
        emb.filter(col("vec_id") >= 120 && col("vec_id") < 180).select("vec_id"), idx)
      val pre = Similarity.ivfTopKIndexed(s, idx)
        .withColumn("phase", lit("tombstoned"))
      Similarity.consolidateIvfIndex(s, idx)
      val post = Similarity.ivfTopKIndexed(s, idx)
        .withColumn("phase", lit("consolidated"))
      pre.unionByName(post)
    },
      // the delete-list exclusion is a pure row filter
      // on the committed lists, so the tombstoned AND consolidated phases
      // both equal s3's mirror with the deleted range cut from candidates
      Sql(s"""WITH rbase AS MATERIALIZED (
         |${Similarity.ivfTopKSql(candFilter = "NOT (vec_id >= 120 AND vec_id < 180)")})
         |SELECT query_id, neighbor_id, rank, cos_1e6, p.phase
         |FROM rbase CROSS JOIN (VALUES ('tombstoned'), ('consolidated')) p(phase)""".stripMargin)),
    Query("s40_graph_link_health", (s, dir) => {
      // GRAPH-INDEX STALENESS INSTRUMENT (the graph family's counterpart
      // of ivfDriftStats: says when churn warrants the periodic rebuild):
      // link-health stats move EXACTLY with the lifecycle — clean at build, append
      // share rises on search-then-link inserts (log metadata only),
      // tombstoned-neighbor shares rise monotonically with each delete
      // batch, and consolidation clears every counter. Numeric
      // monotonicity is spec-asserted in KnnGraphSpec; this gate binds
      // the lifecycle contract. Build memoized (s26's template); every
      // mutation runs on a private copy.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.privateCopy(s"knng|$dir|ge100", "knnhealth")(
        KnnGraph.buildKnnGraphIndex(emb.filter(col("vec_id") >= 100), _))
      def snap(adj: Option[DataFrame] = None) =
        KnnGraph.knnGraphLinkStats(s, idx, adj).head()
      def shares(r: org.apache.spark.sql.Row) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val fresh = shares(snap())
      KnnGraph.appendKnnGraphIndex(emb.filter(col("vec_id") < 100), idx)
      // the three post-append probes straddle TOMBSTONE-ONLY mutations —
      // the adjacency is provably identical, so it materializes once and
      // the probes share it; and because tombstone commits are VERSIONED
      // and immutable, the three probes' delete
      // lists read back per committed version and all three states fold
      // in ONE aggregation pass instead of three (knnGraphLinkStatsStates,
      // per-state equality spec-asserted in KnnGraphSpec)
      val adj = new graft.operators.CommitTable(s, s"$idx/graph", "src")
        .read().select("src", "dst").localCheckpoint(true)
      val v1 = KnnGraph.deleteFromKnnGraphIndex(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 240).select("vec_id"), idx)
      val v2 = KnnGraph.deleteFromKnnGraphIndex(
        emb.filter(col("vec_id") >= 240 && col("vec_id") < 280).select("vec_id"), idx)
      val s2 = s
      import s2.implicits._
      val states = KnnGraph.knnGraphLinkStatsStates(s, idx, adj, Seq(
        Seq.empty[Long].toDF("vec_id"), // post-append state: no tombstones yet
        graft.llm.Tombstones.readAt(s, idx, "vec_id", v1),
        graft.llm.Tombstones.readAt(s, idx, "vec_id", v2)))
      val appended = shares(states(0))
      val del1 = shares(states(1))
      val del2 = shares(states(2))
      // a separate single-state probe after both deletes: tombstoning must
      // leave the append share (log metadata) where the append put it
      val afterDeletes = shares(snap(Some(adj)))
      KnnGraph.consolidateKnnGraphIndex(s, idx)
      val healed = shares(snap())
      Seq(
        ("s1_fresh_clean", fresh == ((0L, 0L, 0L, 0L))),
        ("s2_append_rises", appended._4 > 0L && appended._1 == 0L &&
          appended._2 == 0L && appended._3 == 0L),
        ("s3_delete_rises", del1._1 > 0L && del1._2 > 0L && afterDeletes._4 == appended._4),
        ("s4_monotone_under_churn", del2._1 > del1._1 && del2._2 > del1._2 &&
          del2._3 >= del1._3),
        ("s5_consolidate_clears", healed == ((0L, 0L, 0L, 0L)))
      ).toDF("probe", "holds").orderBy("probe")
    },
      // the lifecycle contract: every stage flag
      // must hold — clean build, append-only rise, delete rise with
      // append share unchanged, strict monotone growth under the second
      // delete batch, and a fully-cleared instrument after consolidation
      Sql("""SELECT probe, holds FROM (VALUES
        |  ('s1_fresh_clean', true), ('s2_append_rises', true),
        |  ('s3_delete_rises', true), ('s4_monotone_under_churn', true),
        |  ('s5_consolidate_clears', true)) AS t(probe, holds)
        |ORDER BY probe""".stripMargin)),
    Query("s28_graph_delete", (s, dir) => {
      // FreshDiskANN delete-consolidation on the committed graph index:
      // tombstone the range (deleted vertices keep NAVIGATING but leave
      // results), then consolidate — surviving in-neighbors of each
      // deleted vertex inherit its surviving out-neighbors (one-hop
      // repair), vectors/entries rewrite without the range — and run the
      // standard walk. The mirror replays build + repair + walk.
      // Shared memoized build; tombstone + consolidate mutate → private
      // copy per execution.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.privateCopy(s"knng|$dir|full", "knndel")(
        KnnGraph.buildKnnGraphIndex(emb, _))
      KnnGraph.deleteFromKnnGraphIndex(
        emb.filter(col("vec_id") >= 120 && col("vec_id") < 180).select("vec_id"), idx)
      KnnGraph.consolidateKnnGraphIndex(s, idx)
      KnnGraph.knnGraphSearch(s, idx)
    },
      // build CTEs + the consolidation's one-hop
      // repair (kept ∪ capped in×out patch, entries re-snapped) + the
      // standard walk over survivors — the post-consolidation search
      Sql(KnnGraph.knnGraphDeleteSearchSql("vec_id >= 120 AND vec_id < 180"))),
    Query("s29_bm25_delete", (s, dir) => {
      // Lucene-shaped document deletes on the committed BM25 index:
      // tombstoned docs leave results and the query terms' df at once
      // (corpus n/sum_dl stay stale until the merge — the documented
      // Lucene semantics, spec-pinned); consolidation re-derives exact
      // survivor stats, making the index bit-identical to a rebuild on
      // the survivors — which IS the mirror here.
      // Full-corpus build memoized (p10 shares the artifact); delete +
      // consolidate mutate → private copy per execution.
      val docs = Tables.documents(s, dir)
      val idx = IndexCache.privateCopy(s"bm25|$dir|full", "bm25del")(
        graft.llm.Retrieval.buildBm25Index(docs, _))
      graft.llm.Retrieval.deleteFromBm25Index(
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"), idx)
      graft.llm.Retrieval.consolidateBm25Index(s, idx)
      graft.llm.Retrieval.bm25TopKIndexed(s, idx, Bm25QueryTerms, k = 15)
    },
      Derived { in =>
        // the post-consolidation index is a rebuild over the survivors, so
        // the mirror is t37's pipeline restricted to them
        val idfSurv = SequentialCorpus.bm25Idf(
          in.textsWhere(col("doc_id") % 7 =!= 3), Bm25QueryTerms)
        graft.llm.Retrieval.bm25TopKSql(idfSurv, k = 15, docFilter = "doc_id % 7 <> 3")
      }),
    Query("s13_pq_persisted", (s, dir) => {
      // persisted PQ: the CODES (m bytes/vector — the corpus-sized
      // artifact s7 re-derives every call) land as a commit-log table
      // next to the codebook; the query streams committed codes and
      // never re-encodes — only the k·candFactor re-rank candidates
      // touch raw floats. Same build configuration as s7, so the round
      // trip is bit-identical and shares its oracle. Memoized build;
      // the code-streaming probe is read-only.
      val idx = IndexCache.template(s"pq|$dir|full")(
        Similarity.buildPqIndex(Tables.embeddings(s, dir), _))
      Similarity.pqTopKIndexed(Tables.embeddings(s, dir), idx)
    },
      // committed codes reproduce pqTopK bit-for-bit
      Sql(Similarity.pqTopKSql())),
    Query("s14_ivf_append", (s, dir) => {
      // incremental index refresh (FAISS add-after-train): train on the
      // first 250 vectors, append the rest as ONE atomic commit assigned
      // against the FIXED committed codebook — no retraining pass, no
      // touch of the existing lists; the oracle mirrors the same
      // train-on-prefix/assign-all split via ivfTopKSql's trainFilter.
      // Prefix build memoized; the append mutates → private copy.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.privateCopy(s"ivf|$dir|lt250", "ivfapp")(
        Similarity.buildIvfIndex(emb.filter(col("vec_id") < 250), _))
      Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 250), idx)
      Similarity.ivfTopKIndexed(s, idx)
    },
      // train on the vec_id<250 prefix, assign ALL:
      // the mirror restricts cent0's seeds and the refinement means to
      // the training prefix while the final assignment covers the corpus
      Sql(Similarity.ivfTopKSql(trainFilter = "vec_id < 250"))),
    Query("s20_ivfpq", (s, dir) => {
      // FAISS IVFPQ composed (THE production ANN shape at 100 TB): coarse centroids + sub-quantizer codebook +
      // a lists table holding ONLY (vec_id, cid, codes), cid-clustered;
      // a query probes nprobe lists, integer-ADCs their codes, and pays
      // exact cosines for just k·candFactor survivors. Raw vectors:
      // never materialized, never shuffled. Memoized build; read-only probe.
      val idx = IndexCache.template(s"ivfpq|$dir|full")(
        Similarity.buildIvfPqIndex(Tables.embeddings(s, dir), _))
      Similarity.ivfPqTopKIndexed(Tables.embeddings(s, dir), idx)
    },
      // the composed FAISS-IVFPQ pipeline: coarse k-means
      // assignment + per-subspace codes + integer ADC inside the probed
      // lists + exact re-rank, mirrored end-to-end
      Sql(Similarity.ivfPqTopKSql())),
    Query("s21_pq_append", (s, dir) => {
      // incremental refresh for the FLAT PQ index (s14's add-after-train
      // for codes): the committed sub-codebooks stay fixed, the appended
      // shard encodes in one pass and lands as ONE atomic commit. The
      // vec_id<250 training prefix contains the ksub lowest ids, so the
      // codebooks equal a full build's and s7's oracle applies unchanged.
      // Prefix build memoized; the append mutates → private copy.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.privateCopy(s"pq|$dir|lt250", "pqapp")(
        Similarity.buildPqIndex(emb.filter(col("vec_id") < 250), _))
      Similarity.appendPqIndex(emb.filter(col("vec_id") >= 250), idx)
      Similarity.pqTopKIndexed(emb, idx)
    },
      // build on the vec_id<250 prefix, append the rest:
      // the prefix holds the ksub lowest vec_ids, so the committed
      // sub-codebooks EQUAL a full-corpus build's and the appended index
      // shares s7's unmodified mirror
      Sql(Similarity.pqTopKSql())),
    Query("s22_ivfpq_append", (s, dir) => {
      // IVFPQ add-after-train: BOTH committed codebooks (coarse + sub-
      // quantizer) stay fixed; the appended shard is coarse-assigned and
      // PQ-encoded in one pass, landing as ONE atomic lists commit. The
      // mirror restricts both codebooks' training view to the vec_id<250
      // prefix while codes/assignment cover the corpus.
      // Prefix build memoized; the append mutates → private copy.
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.privateCopy(s"ivfpq|$dir|lt250", "ivfpqapp")(
        Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 250), _))
      Similarity.appendIvfPqIndex(emb.filter(col("vec_id") >= 250), idx)
      Similarity.ivfPqTopKIndexed(emb, idx)
    },
      // both codebooks trained on the prefix, codes +
      // assignment over the full corpus — the composed add-after-train
      Sql(Similarity.ivfPqTopKSql(trainFilter = "vec_id < 250"))),
    Query("s19_bm25_indexed", (s, dir) => {
      // persisted SPARSE-retrieval index: postings + corpus
      // stats land as commit-log tables (postings term-clustered so the
      // query's IN filter prunes files); the query derives df/idf from
      // the pruned committed read and runs ZERO corpus-stats jobs — the
      // raw documents table is not an input (inputFiles-asserted in
      // RetrievalSpec). Built on a half/half build+append split to bind
      // the incremental-refresh path to the gate; BM25 has no trained
      // component, so the result is bit-identical to t37's inline
      // operator and shares its oracle. The build+append CHAIN is the
      // deterministic artifact (memoized; s36 shares it); the committed
      // probe is read-only.
      val docs = Tables.documents(s, dir)
      val idx = IndexCache.template(s"bm25|$dir|split") { p =>
        graft.llm.Retrieval.buildBm25Index(docs.filter(col("doc_id") % 2 === 0), p)
        graft.llm.Retrieval.appendBm25Index(docs.filter(col("doc_id") % 2 =!= 0), p)
      }
      graft.llm.Retrieval.bm25TopKIndexed(s, idx, Bm25QueryTerms, k = 15)
    },
      // the committed index is bit-identical to the inline operator (no
      // trained component; shared scoring tail), so t37's oracle applies
      Derived(bm25Sql)))
}
