package graft
package queries

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Packing, Sampling, SequentialCorpus, Similarity, Sketches, TextOps}
import graft.streaming.BoundedReplay
import Oracle.{Derived, Sql, values}
import QuerySupport._

/** Text analysis and dedup: statistics, tokenizers, sketches, quality
  * filters, sampling and exact / near-duplicate detection.
  */
private[graft] object TextQueries {

  val all: Seq[Query] = Seq(
    Query("d1_exact_dedup", (s, dir) => Dedup.exactDedup(Tables.documents(s, dir)),
      Sql(Dedup.exactDedupSql)),
    Query("d8_stream_dedup", (s, dir) =>
      // streamingExactDedup's batch analogue: WHICH copy survives is
      // arrival-order-dependent (dropDuplicates keeps an arbitrary row in
      // batch — on a stream it is first-seen), but the surviving CONTENT
      // set is deterministic, so the gate binds the content-determined
      // projection; cross-micro-batch first-seen semantics are asserted in
      // StreamingSpec
      Dedup.streamingExactDedup(Tables.documents(s, dir))
        .select(md5(col("text")).as("h"), length(col("text")).cast("long").as("len"))
        .orderBy("h"),
      Sql("""SELECT DISTINCT md5(text) AS h, len(text)::BIGINT AS len
        |FROM documents ORDER BY h""".stripMargin)),
    Query("d14_fuzzy_decontaminate", (s, dir) =>
      // near-dup (MinHash-banded) train-vs-eval contamination: catches the
      // paraphrased leakage t18's exact shingle overlap misses; candidates
      // come from TRAIN buckets joined against the benchmark-sized EVAL
      // buckets only — never train×train
      Dedup.fuzzyDecontaminate(Tables.documents(s, dir)),
      Sql(Dedup.fuzzyDecontaminateSql())),
    Query("d13_watermark_dedup", (s, dir) =>
      // streamingDedupWithinWatermark bound to the gate through a REAL
      // StreamExecution (dropDuplicatesWithinWatermark has no batch mode):
      // BoundedReplay feeds the documents table through the file streaming
      // source one file per micro-batch, so the state store carries
      // first-seen keys ACROSS micro-batches. Arrival time derives from
      // doc_id MOD 1s (micro-batch order is file-order, not id-order, so an
      // unbounded id-derived time could strand early ids behind the
      // watermark as late data) — the whole table spans <1s, far inside the
      // 10-minute delay, so every copy is in-horizon and the surviving
      // CONTENT set is exactly DISTINCT (the d8 discipline; WHICH copy
      // survives is arrival-order-dependent, so the gate binds the
      // content-determined projection). The eviction/re-emit half past the
      // horizon is asserted in StreamingSpec.
      BoundedReplay.runFileStream(
        Tables.documents(s, dir)
          // offset: event time 0 equals the zero-floored watermark and
          // would be discarded as late — keep min event time above delay
          .withColumn("arrival_ts",
            timestamp_micros(col("doc_id") % 1000000L + 3600000000L)),
        name = "d13_sink",
        transform = stream =>
          Dedup.streamingDedupWithinWatermark(stream, tsCol = "arrival_ts",
              delay = "10 minutes")
            .select(md5(col("text")).as("h"),
              length(col("text")).cast("long").as("len")))
        .orderBy("h"),
      Sql("""SELECT DISTINCT md5(text) AS h, len(text)::BIGINT AS len
        |FROM documents ORDER BY h""".stripMargin)),
    Query("d2_jaccard_pairs", (s, dir) => Dedup.jaccardPairs(Tables.documents(s, dir)),
      Sql(Dedup.jaccardPairsSql())),
    Query("d3_minhash_pairs", (s, dir) => Dedup.minHashLshPairs(Tables.documents(s, dir)),
      // the oracle mirrors the full MinHash+LSH pipeline (same seeded hash
      // family, banding, and verify), so the gate is deterministic equality —
      // not the was-recall-perfect coin flip of comparing against the exact
      // join; recall vs exact IS still covered, in DedupSpec
      Sql(Dedup.minHashLshPairsSql())),
    Query("d4_simhash_pairs", (s, dir) => Dedup.simHashPairs(Tables.documents(s, dir)),
      Sql(Dedup.simHashPairsSql())),
    Query("d7_ngram_jaccard", (s, dir) => // tokenizer-free char-9-gram Jaccard
      // (same AllPairs+PPJoin engine as d2; naive-join DuckDB oracle stays
      // independent of the prefix machinery). n=9 because short char-grams
      // of templated text are shared so widely that no exact filter can
      // prune candidates (measured: n=5 -> 3M candidate pairs at sf0.1 for
      // 256 true pairs; n=9 -> 286k; the true pair set is IDENTICAL)
      Dedup.ngramJaccardPairs(Tables.documents(s, dir)),
      Sql(Dedup.ngramJaccardPairsSql())),
    Query("d10_edit_distance", (s, dir) => // fuzzy-join recipe: O(m·n)
      // Levenshtein runs ONLY on the LSH-pruned pair set, on fixed-width
      // prefixes — char-level drift signal on top of set-based Jaccard
      Dedup.lshEditDistances(Tables.documents(s, dir)),
      Sql(Dedup.lshEditDistancesSql())),
    Query("d11_containment", (s, dir) => // ASYMMETRIC containment over
      // winnowing fingerprints (MOSS shape): a small doc quoted wholesale
      // by a large one scores ~1000 on its own side while the pair's
      // Jaccard stays low — the quote-plagiarism signal d2/d3/d7's
      // symmetric thresholds miss; df-capped inverted index bounds the join
      Dedup.containmentPairs(Tables.documents(s, dir)),
      Sql(Dedup.containmentPairsSql())),
    Query("d6_dup_clusters", (s, dir) => // near-dup RESOLUTION: CC over the
      // LSH pair graph -> (doc, keeper); closure handles non-transitive
      // near-dup chains
      Dedup.nearDupClusters(Tables.documents(s, dir)),
      Sql(Dedup.nearDupClustersSql())),
    Query("d17_span_dedup", (s, dir) => // exact duplicated-SPAN detection
      // (Lee et al. 2022): sliding k-token windows hashed corpus-wide,
      // repeated windows mark their positions, overlaps merge to maximal
      // spans — catches shifted duplicates d12's disjoint tiles miss
      Dedup.spanDedup(Tables.documents(s, dir)),
      Sql(Dedup.spanDedupSql())),
    Query("d18_span_scrub", (s, dir) => // d17's SCRUB half — the CLEANED
      // corpus the Lee et al. pipeline actually ships: the canonical
      // (smallest (doc_id, start)) occurrence of each duplicated window
      // keeps its text, every other occurrence's positions are cut, docs
      // reassembled from surviving tokens in order
      Dedup.spanScrub(Tables.documents(s, dir)),
      Sql(Dedup.spanScrubSql())),
    Query("d19_dedup_index", (s, dir) => {
      // PERSISTED dedup index (the s19 discipline applied to d3's
      // MinHash machinery): the historical corpus's band signatures +
      // hashed shingle universe live as commit-log tables; a daily shard
      // probes its bands against the committed bucket relation (never
      // shard x shard), verifies survivors by exact Jaccard with the
      // old side semi-pruned to colliding docs, and the historical text
      // is never re-tokenized. Built half/half via build+append (bands
      // are per-document, so append == full rebuild); the probe side is
      // the odd doc_ids.
      // Build+append chain memoized (d20 shares it); the probe is
      // read-only against the committed bucket relation.
      val docs = Tables.documents(s, dir)
      val idx = IndexCache.template(s"dedup|$dir|split") { p =>
        Dedup.buildDedupIndex(docs.filter(col("doc_id") % 4 === 0), p)
        Dedup.appendDedupIndex(docs.filter(col("doc_id") % 4 === 2), p)
      }
      Dedup.dedupAgainstIndex(docs.filter(col("doc_id") % 2 =!= 0), idx)
    },
      // the full mirrored pipeline (seeded params,
      // banding, exact verify) with the candidate join restricted to
      // (historical evens) x (probed odds) — d3's no-assumed-recall rule
      Sql(Dedup.dedupAgainstIndexSql(oldFilter = "% 2 = 0", newFilter = "% 2 = 1"))),
    Query("d20_dedup_index_at", (s, dir) => {
      // the dedup index version-pinned (the family-wide manifest): the
      // same build+append chain, probed AT index version 0 — the shard
      // sees ONLY the build batch's historical corpus, exactly the
      // pre-append index (shingles and bands pinned together).
      // Shares d19's memoized template; the version-pinned probe is
      // read-only through the manifest.
      val docs = Tables.documents(s, dir)
      val idx = IndexCache.template(s"dedup|$dir|split") { p =>
        Dedup.buildDedupIndex(docs.filter(col("doc_id") % 4 === 0), p)
        Dedup.appendDedupIndex(docs.filter(col("doc_id") % 4 === 2), p)
      }
      Dedup.dedupAgainstIndexAt(docs.filter(col("doc_id") % 2 =!= 0), idx, 0L)
    },
      // the v0 pin restricts the historical side to
      // the BUILD batch alone — the pre-append index exactly
      Sql(Dedup.dedupAgainstIndexSql(oldFilter = "% 4 = 0", newFilter = "% 2 = 1"))),
    Query("d16_neardup_keepers", (s, dir) => // the ingestion-order near-dup
      // KEEPER rule: keep a doc iff it claims >= 1 of its 32 MinHash band
      // signatures (claim = per-band min doc_id) — the streaming-feasible
      // relaxation of pair-based dedup: no candidate join at all, one
      // band-keyed min shuffle; the stateful first-seen streaming half is
      // asserted in StreamingSpec
      Dedup.nearDupKeepers(Tables.documents(s, dir)),
      Sql(Dedup.nearDupKeepersSql())),
    Query("d15_quality_keepers", (s, dir) => // d6's clusters resolved by the
      // PRODUCTION keeper policy — most tokens, ties to smaller id —
      // instead of min-id survivorship; the policy is one map-side argmax
      // struct-aggregate on top of the cluster labeling
      Dedup.qualityKeepers(Tables.documents(s, dir)),
      Sql(Dedup.qualityKeepersSql())),
    Query("d12_block_dedup", (s, dir) => // sub-document boilerplate removal
      // (ExactSubstr's scalable block approximation): consecutive 10-token
      // blocks, corpus-wide first occurrence survives; min-struct keeper
      // keeps hot boilerplate blocks skew-proof via map-side combine
      Dedup.blockDedup(Tables.documents(s, dir)),
      Sql(Dedup.blockDedupSql())),
    Query("t1_text_stats", (s, dir) => TextOps.textStats(Tables.documents(s, dir)),
      Sql(TextOps.textStatsSql)),
    Query("t2_language_id", (s, dir) => TextOps.languageId(Tables.documents(s, dir)),
      Sql(TextOps.languageIdSql)),
    Query("t3_quality", (s, dir) => TextOps.qualityBuckets(Tables.documents(s, dir)),
      Sql(TextOps.qualityBucketsSql)),
    Query("t4_fingerprints", (s, dir) => TextOps.fingerprints(Tables.documents(s, dir)),
      Sql(TextOps.fingerprintsSql)),
    Query("t5_token_freq", (s, dir) => TextOps.tokenFrequency(Tables.documents(s, dir)),
      Sql(TextOps.tokenFrequencySql())),
    Query("t6_bpe_tokens", (s, dir) => TextOps.bpeTokenCounts(Tables.documents(s, dir)),
      Sql(TextOps.bpeTokenCountsSql)),
    Query("t29_bpe_train", (s, dir) => // BPE merge TRAINING (t6 counts with a
      // fixed regex; this LEARNS the merge table): corpus touched once for
      // the word-type counts, every round is vocabulary-sized expression
      // work + a 1-row argmax; not SQL-expressible (iterative argmax), so
      // the oracle is the independent sequential model's VALUES
      TextOps.bpeTrainMerges(Tables.documents(s, dir), numMerges = 10),
      Derived(in => values("rank" -> "BIGINT", "lhs" -> "VARCHAR", "rhs" -> "VARCHAR", "freq" -> "BIGINT")(
        SequentialCorpus.bpeMerges(in.texts, numMerges = 10), "rank"))),
    Query("t30_bpe_encode", (s, dir) => {
      // the tokenizer ROUND TRIP: t29's learned merges applied back to the
      // corpus (rank-order fold chain over the word-type table, ONE plan —
      // encoding needs no per-merge argmax barrier), top subword counts;
      // the collected merge table is merge-count-sized by contract
      val docs = Tables.documents(s, dir)
      val merges = TextOps.bpeTrainMerges(docs, numMerges = 10)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeEncodeTop(docs, merges, topN = 20)
    },
      Derived(in => values("subword" -> "VARCHAR", "freq" -> "BIGINT")(
        SequentialCorpus.bpeEncodeTop(in.texts, numMerges = 10, topN = 20), "freq DESC, subword"))),
    Query("t7_winnowing", (s, dir) => // rolling hash unrolled to a k-term
      // polynomial in the SQL mirror — fully oracle-checked
      TextOps.winnowingFingerprints(Tables.documents(s, dir)),
      Sql(TextOps.winnowingSql())),
    Query("t13_repetition", (s, dir) => // Gopher-style repetition quality
      // signals (top-token/top-bigram share, duplicate-bigram fraction):
      // per-row HOF work only — no shuffle for a per-document statistic
      TextOps.repetitionStats(Tables.documents(s, dir)),
      Sql(TextOps.repetitionStatsSql)),
    Query("t14_kmv_distinct", (s, dir) => // mergeable KMV distinct sketch
      // (O(k) state per group through the typed-Aggregator partial/merge
      // path) vs the exact distinct count it estimates — the incremental
      // COUNT(DISTINCT) surface exact aggregation can't maintain at 100 TB
      Sketches.kmvDistinctShingles(Tables.documents(s, dir)),
      Sql(Sketches.kmvDistinctShinglesSql())),
    Query("t43_zipf_fit", (s, dir) => // Zipf rank-frequency fit per lang
      // (the natural-language-vs-templated-junk corpus-card statistic):
      // distributed exact-integer counts/totals/top-N, then the OLS fit
      // over nano-quantized logs runs on the driver's bounded
      // langs x topN collect in BigInt; oracle = fully independent
      // sequential mirror through the shared contract formula
      graft.llm.TextOps.zipfStats(Tables.documents(s, dir)),
      Derived(in => values("lang" -> "VARCHAR", "n_tokens" -> "BIGINT", "vocab" -> "BIGINT", "n_fit" -> "BIGINT", "slope_e6" -> "BIGINT")(
        SequentialCorpus.zipfStats(in.docs), "lang"))),
    Query("t42_kmv_setops", (s, dir) => // KMV sketch SET OPERATIONS (theta
      // algebra): per-source k-minima over the hashed shingle universe,
      // then pairwise union/intersection/Jaccard estimates from the
      // SKETCHES alone — the mergeable answer to "how much do two crawl
      // sources overlap" whose per-source state is k longs; the pair
      // join runs over the sources-sized sketch table, never the corpus
      Sketches.kmvSetOps(Tables.documents(s, dir)),
      // the identical union/intersect sketch algebra in
      // HUGEINT over ranked-window per-source sketches
      Sql(Sketches.kmvSetOpsSql())),
    Query("t47_hll_distinct", (s, dir) => // HyperLogLog distinct-token sketch
      // per language — the FIXED-size (256-register) counterpart of t14's
      // KMV: register state merges by pairwise MAX across daily increments
      // (spec-asserted), the estimator is the published bias-corrected
      // harmonic form with alpha as an exact rational and the
      // linear-counting branch read from a driver-interpolated table, so
      // every emitted column is integer-exact in both engines
      Sketches.hllDistinctTokens(Tables.documents(s, dir)),
      // same hash split / rho / register algebra /
      // rational-alpha division / interpolated ln table
      Sql(Sketches.hllDistinctTokensSql())),
    Query("t17_dup_coverage", (s, dir) => // corpus-level contamination: share
      // of each doc's shingles appearing ANYWHERE else — the stitched-
      // from-fragments signal pairwise dedup never surfaces
      TextOps.dupCoverage(Tables.documents(s, dir)),
      Sql(TextOps.dupCoverageSql)),
    Query("t18_decontaminate", (s, dir) => // benchmark decontamination: train
      // docs overlapping the (deterministic stand-in) eval slice's shingle
      // universe; eval set broadcast, corpus-side is a semi probe
      TextOps.decontaminate(Tables.documents(s, dir), col("doc_id") % 7 === 0),
      Sql(TextOps.decontaminateSql(evalMod = 7))),
    Query("t28_weighted_sample", (s, dir) => {
      // Efraimidis-Spirakis A-ES weighted sampling bound to the gate:
      // per-language top-10 by priority u^(1/w), w = token count (longer
      // docs proportionally likelier — the quality/length-weighted corpus
      // cut). Content-addressed u and a 1e-9-quantized integer priority
      // make the one float step (pow) engine-portable; ranks and the
      // sampled ids are what the oracle hash-checks.
      val docs = Tables.documents(s, dir).select(
        col("lang"), col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("w"))
        .filter(col("w") >= 1)
      Sampling.weightedSample(docs, strataCol = "lang", keyCol = "doc_id",
          weightCol = "w", k = 10, seed = 7L)
        .select(col("lang"), col("doc_id"), col("w"), col("priority_q"), col("stratum_rank"))
        .orderBy("lang", "stratum_rank")
    },
      // same A-ES priority math via the shared
      // hash60 + pow + 1e-9 quantization fragment
      Sql(s"""WITH t AS (SELECT lang, doc_id,
         |                  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                                  x -> x <> ''))::BIGINT AS w
         |           FROM documents),
         |p AS (SELECT lang, doc_id, w,
         |             ${Sampling.weightedPrioritySql("doc_id", "w", seed = 7L)} AS priority_q
         |      FROM t WHERE w >= 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |                  ORDER BY priority_q DESC, doc_id) AS stratum_rank FROM p)
         |SELECT lang, doc_id, w, priority_q, stratum_rank::BIGINT AS stratum_rank
         |FROM r WHERE stratum_rank <= 10 ORDER BY lang, stratum_rank""".stripMargin)),
    Query("t27_token_entropy", (s, dir) => // token-distribution Shannon
      // entropy per doc (nats, 1e-6): the whole-shape information-density
      // signal next to t13's head-share ratios; counts are SORTED before
      // the fold so both engines sum identical doubles in identical order
      // — bit-reproducible before the round. Per-row HOF, no exchange.
      TextOps.tokenEntropy(Tables.documents(s, dir)),
      Sql(TextOps.tokenEntropySql)),
    Query("t16_token_rarity", (s, dir) => // corpus-relative quality signal:
      // mean corpus frequency of each doc's tokens (vocabulary-sized
      // frequency table joined back — broadcast shape at corpus scale)
      TextOps.tokenRarity(Tables.documents(s, dir)),
      Sql(TextOps.tokenRaritySql)),
    Query("t15_histogram_quantiles", (s, dir) => // mergeable fixed-bin
      // quantile sketch: re-addable bin counts -> p50/p90 edges; the
      // incremental-percentile surface q12's exact sort-based path can't
      // maintain (bins merge by summing; history never rescanned)
      Sketches.histogramQuantiles(Tables.orders(s, dir)),
      Sql(Sketches.histogramQuantilesSql())),
    Query("t21_bigram_logprob", (s, dir) => // corpus-relative statistical LM
      // quality (CCNet shape): mean ln P(w2|w1) under the corpus's own
      // bigram counts — scores token ORDER where t16 scores token choice;
      // count tables are vocab-bounded (broadcast-sized next to a corpus)
      TextOps.bigramLogProb(Tables.documents(s, dir)),
      Sql(TextOps.bigramLogProbSql)),
    Query("t20_countmin_hh", (s, dir) => // Count-Min point-frequency sketch
      // (deterministic universal hashes, so the oracle rebuilds the exact
      // grid): 2 KB of re-addable state estimates any token's count from
      // above; gate readout pairs est with exact on the top-20 tokens —
      // the t14/t15 mergeable-sketch family completed
      Sketches.countMinHeavyHitters(Tables.documents(s, dir)),
      Sql(Sketches.countMinHeavyHittersSql())),
    Query("t26_adaptive_stopwords", (s, dir) => // df-driven stopword
      // discovery (corpus-adaptive noise list; the fixed-list t1/t3
      // signals can't see domain noise); vocabulary-sized result
      TextOps.adaptiveStopwords(Tables.documents(s, dir)),
      Sql(TextOps.adaptiveStopwordsSql())),
    Query("t25_html_strip", (s, dir) => // markup stripping (boilerplate
      // removal before quality scoring); deterministically planted tags,
      // per-row regexes, whitespace re-collapsed
      TextOps.htmlStrip(Tables.documents(s, dir)),
      Sql(TextOps.htmlStripSql)),
    Query("t22_pii_scrub", (s, dir) => // email/phone detection + redaction
      // (deterministically planted PII — the synthetic corpus has none);
      // per-row regex expressions only, codegen'd, shuffle-free
      TextOps.piiScrub(Tables.documents(s, dir)),
      Sql(TextOps.piiScrubSql)),
    Query("t23_url_domains", (s, dir) => // URL -> domain inventory (the
      // domain-filtering half of crawl curation); one scan + one
      // low-cardinality hash shuffle
      TextOps.urlDomains(Tables.documents(s, dir)),
      Sql(TextOps.urlDomainsSql)),
    Query("t24_shingle_novelty", (s, dir) => // per-doc first-occurrence
      // shingle contribution — dedup-aware curation's ranking signal;
      // two shuffles, both on 8-byte hashed shingles
      TextOps.shingleNovelty(Tables.documents(s, dir)),
      Sql(TextOps.shingleNoveltySql)),
    Query("t10_tfidf", (s, dir) => // per-doc top terms by integer-exact
      // raw-idf TF-IDF (log-free so the oracle matches bit-for-bit)
      TextOps.tfidfTopTerms(Tables.documents(s, dir)),
      Sql(TextOps.tfidfTopTermsSql())),
    Query("t12_chunk_text", (s, dir) => // RAG-style overlapping token chunking
      // (k=30, stride=20): per-row expression work only, no shuffle before
      // the output sort; t11 is the placement-only pretraining cousin
      TextOps.chunkTokens(Tables.documents(s, dir)),
      Sql(TextOps.chunkTokensSql())),
    Query("t11_pack_chunks", (s, dir) => { // GPT-style concat-and-chunk batch
      // packing: per-SOURCE token streams cut into 256-token context
      // windows; per-shard windows, never a global cumsum
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      Packing.packChunks(toks, groupCol = "source", orderCol = "doc_id",
          tokensCol = "n_tokens", chunkTokens = 256L)
        .orderBy("doc_id")
    },
      Sql("""WITH t AS (SELECT doc_id, source,
        |                  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS n_tokens
        |           FROM documents),
        |o AS (SELECT doc_id, source, n_tokens,
        |             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS end_offset
        |      FROM t)
        |SELECT doc_id, source, n_tokens, end_offset,
        |       end_offset - n_tokens AS start_offset,
        |       (end_offset - n_tokens) // 256 AS chunk_first,
        |       greatest(end_offset - 1, end_offset - n_tokens) // 256 AS chunk_last,
        |       greatest(end_offset - 1, end_offset - n_tokens) // 256
        |         - (end_offset - n_tokens) // 256 + 1 AS n_chunks
        |FROM o ORDER BY doc_id""".stripMargin)),
    Query("t8_train_split", (s, dir) =>
      // content-addressed train/val/test assignment (md5 buckets — stable
      // under reruns, retries, and corpus growth, unlike rand(seed));
      // gate checks the per-split memberships via integer aggregates
      Sampling.assignSplits(Tables.documents(s, dir), keyCol = "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"), sum("n_chars").as("sum_chars"))
        .orderBy("split"),
      Sql(s"""SELECT ${Sampling.assignSplitsSql("doc_id")} AS split,
         |       COUNT(*) AS n, SUM(doc_id)::BIGINT AS sum_ids, SUM(n_chars)::BIGINT AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("t19_stratified_sample", (s, dir) =>
      // per-stratum deterministic top-k under the seeded shuffle order: the
      // balanced per-language mix (uniform sampling mirrors corpus skew);
      // WindowGroupLimit keeps the k-cut below the stratum shuffle
      Sampling.stratifiedSample(Tables.documents(s, dir),
          strataCol = "lang", keyCol = "doc_id", k = 10, seed = 11L)
        .select("lang", "stratum_rank", "doc_id", "shuffle_key")
        .orderBy("lang", "stratum_rank"),
      Sql(s"""WITH s AS (SELECT lang, doc_id, ${Sampling.shuffleKeySql("doc_id", 11L)} AS shuffle_key
         |           FROM documents),
         |r AS (SELECT lang, doc_id, shuffle_key,
         |             row_number() OVER (PARTITION BY lang ORDER BY shuffle_key, doc_id) AS stratum_rank
         |      FROM s)
         |SELECT lang, stratum_rank::BIGINT AS stratum_rank, doc_id, shuffle_key
         |FROM r WHERE stratum_rank <= 10 ORDER BY lang, stratum_rank""".stripMargin)),
    Query("t9_corpus_sample", (s, dir) =>
      // seeded deterministic shuffle + top-k = reproducible fixed-size
      // eval slice; plans as TakeOrderedAndProject (per-partition top-k,
      // no global sort materialization)
      Sampling.deterministicSample(Tables.documents(s, dir), keyCol = "doc_id", k = 50, seed = 7L)
        .select("doc_id", "shuffle_key")
        .orderBy("shuffle_key", "doc_id"),
      Sql(s"""SELECT doc_id, ${Sampling.shuffleKeySql("doc_id", 7L)} AS shuffle_key
         |FROM documents ORDER BY shuffle_key, doc_id LIMIT 50""".stripMargin)),
    Query("t31_token_mixture", (s, dir) => // token-budget domain mixing: each
      // source admits docs in seeded-shuffle order until its TOKEN budget
      // fills — the skew-correcting corpus-mix primitive (doc-count caps
      // ignore length; uniform samples mirror the skew); integer
      // running-sum admission, content-addressed order
      Sampling.tokenBudgetMixture(Tables.documents(s, dir)),
      Sql(Sampling.tokenBudgetMixtureSql())),
    Query("t32_dsir", (s, dir) => // DSIR importance weights: log-likelihood
      // ratio of each doc's hashed bag-of-words under the target (lang=en)
      // vs raw unigram models — the importance-resampling data-selection
      // score. Bucket counts are exact integers (one corpus pass); the
      // per-bucket log-ratios are driver-computed micro-quantized literals
      // (s9's broadcast-codebook discipline), so doc scores are exact
      // integer sums; oracle = fully independent sequential mirror
      Sampling.dsirWeights(Tables.documents(s, dir)),
      Derived(in =>
        s"""SELECT d AS doc_id, w AS dsir_e6 FROM (${dsirValues(in)}) ORDER BY doc_id""")),
    Query("t37_bm25", (s, dir) => // BM25 keyword retrieval (the Lucene/RAG
      // sparse scorer): exact integer df/dl/tf, driver-quantized idf
      // literals, one truncating division per matched term — plans as
      // TakeOrderedAndProject; oracle = static SQL + an INDEPENDENTLY
      // derived idf VALUES table (SequentialCorpus.bm25Idf)
      graft.llm.Retrieval.bm25TopK(Tables.documents(s, dir),
        queryTerms = Bm25QueryTerms, k = 15),
      Derived(bm25Sql)),
    Query("t40_lm_langid", (s, dir) => // LM language-ID (fastText-langid
      // shape, upgrading t2's marker-word heuristic): one hashed-unigram
      // model per language from the labeled slices, arg-min NLL
      // prediction with runner-up margin; one langs×buckets aggregate +
      // one scoring pass vs the broadcast codebook
      graft.llm.Perplexity.lmLangId(Tables.documents(s, dir)),
      Derived(in => values("doc_id" -> "BIGINT", "pred_lang" -> "VARCHAR", "margin_e6" -> "BIGINT", "is_correct" -> "BIGINT")(
        SequentialCorpus.lmLangId(in.docs), "doc_id"))),
    Query("t38_ccnet_ppl", (s, dir) => // CCNet perplexity bucketing: hashed-
      // unigram LM fit on the lang=en reference slice, per-token NLL in
      // micro-nats, head/middle/tail split — the LM-quality filter stage;
      // oracle = fully independent sequential mirror
      graft.llm.Perplexity.ccnetScore(Tables.documents(s, dir)),
      Derived(in => perplexityValues(SequentialCorpus.ccnetScores(in.docs)))),
    Query("t41_ngram_ppl", (s, dir) => // ORDER-3 CCNet scoring: hashed trigram/bigram/unigram LM with stupid
      // backoff — seen-gram NLL = exact integer difference of driver-
      // quantized log counts, 0.4-penalty per backed-off level; the
      // scoring pass is entirely row-local (codegen'd aggregate lambda
      // vs 4 broadcast literal tables, zero shuffles); oracle = fully
      // independent sequential mirror with its own backoff recursion
      graft.llm.Perplexity.ngramScore(Tables.documents(s, dir)),
      // the order-3 mirror: same output contract, independent backoff walk
      Derived(in => perplexityValues(SequentialCorpus.ngramScores(in.docs)))),
    Query("t44_ngram5_ppl", (s, dir) => // ORDER-5 CCNet parity (the
      // published CCNet recipe scores with a 5-gram KenLM): t41's hashed stupid-backoff chain extended to order 5,
      // same row-local scoring shape (one when-chain per token against
      // 6 broadcast literal tables); oracle = the independent recursive
      // order-N mirror
      graft.llm.Perplexity.ngramScore(Tables.documents(s, dir), order = 5),
      // the order-5 mirror: the same recursive walk generalized
      Derived(in => perplexityValues(SequentialCorpus.ngramScoresN(in.docs, 5)))),
    Query("t46_grouped_quantiles", (s, dir) =>
      // per-GROUP adaptive quantiles with NO driver collect anywhere:
      // each group's sketch level comes from a closed form over its
      // z-histogram (window + aggregate), so group count is unbounded —
      // the per-slice corpus-card quantile the fixed-grid t15 and the
      // global t45 both stop short of
      graft.llm.Sketches.groupedAdaptiveQuantiles(
        Tables.orders(s, dir).select(col("o_orderpriority").as("grp"),
          col("o_orderkey").as("uid"),
          floor(col("o_totalprice")).cast("long").as("val"))),
      Sql(Sketches.groupedAdaptiveQuantilesSql())),
    Query("t45_quantile_sketch", (s, dir) => {
      // ADAPTIVE mergeable quantile sketch (the adaptive-accuracy sketch
      // t15's fixed grid names as the real thing): nested hash-Bernoulli levels, retention a pure function
      // of uid — so the merge law is EXACT, and this gate RUNS it: the
      // sketch is built from two disjoint halves and MERGED, while the
      // DuckDB mirror builds one sketch directly over the whole table;
      // hash-equality of the two IS merge(a,b) == sketch(a ∪ b).
      val base = Tables.orders(s, dir).select(col("o_orderkey").as("uid"),
        floor(col("o_totalprice")).cast("long").as("val"))
      val sk = graft.llm.Sketches.mergeQuantileSketches(
        graft.llm.Sketches.adaptiveQuantileSketch(base.filter(col("uid") % 2 === 0)),
        graft.llm.Sketches.adaptiveQuantileSketch(base.filter(col("uid") % 2 =!= 0)))
      graft.llm.Sketches.sketchQuantiles(sk, Seq(250000L, 500000L, 900000L))
    },
      // the mirror builds ONE sketch over the whole
      // table; the gate merges two half-sketches — equality is the exact
      // merge law
      Sql(Sketches.adaptiveQuantilesSql())),
    Query("t36_sentence_stats", (s, dir) => // sentence segmentation stats
      // ([.!?]+ splits, trimmed, empties dropped): discourse-shape
      // quality signals the flat token ratios can't see; row-local array
      // algebra, zero shuffles, all integer columns
      graft.llm.TextOps.sentenceStats(Tables.documents(s, dir)),
      Sql(graft.llm.TextOps.sentenceStatsSql)),
    Query("t35_gopher_rules", (s, dir) => // Gopher-style composite quality
      // rules: word count, mean word length, stopword presence, top-word
      // repetition ratio — all integer thousandths, composite keep
      // verdict; one row-local pass + one (doc, token)-count exchange
      graft.llm.TextOps.gopherQualityFlags(Tables.documents(s, dir)),
      Sql(graft.llm.TextOps.gopherQualityFlagsSql())),
    Query("t33_logreg_train", (s, dir) => // trainable quality classifier
      // (fastText/CCNet-style): full-batch logistic GD where each step is
      // ONE aggregate of nano-quantized per-row gradients against
      // broadcast weight literals (exact long sums, order-independent);
      // weights re-quantized to 1e-9 per step so the independent
      // sequential mirror iterates from identical state
      graft.llm.Classifier.trainQualityLogReg(
        Tables.documents(s, dir), labelCol = col("lang") === "en"),
      Derived { in =>
        val docs = Tables.documents(in.spark, in.sfDir)
          .select(col("text"), col("lang"))
          .collect().map(r => (r.getString(0), if (r.getString(1) == "en") 1.0 else 0.0)).toSeq
        val (w0, w1, w2, w3, nc, n) = SequentialCorpus.logRegTrain(docs)
        s"""SELECT CAST($w0 AS BIGINT) AS w0_e9, CAST($w1 AS BIGINT) AS w1_e9,
           |CAST($w2 AS BIGINT) AS w2_e9, CAST($w3 AS BIGINT) AS w3_e9,
           |CAST($nc AS BIGINT) AS n_correct, CAST($n AS BIGINT) AS n_docs""".stripMargin
      }),
    Query("t34_quality_scores", (s, dir) => // scoring pass with FIXED weights
      // (the deploy side of t33): logit w·x over the contract features in
      // micro-units — fully SQL-expressible, so the oracle is a static
      // DuckDB mirror of the whole feature pipeline (not VALUES)
      graft.llm.Classifier.scoreDocs(Tables.documents(s, dir),
        weightsE9 = Seq(-2000000000L, 500000000L, 300000000L, -1000000000L)),
      Sql(graft.llm.Classifier.scoreDocsSql(
      Seq(-2000000000L, 500000000L, 300000000L, -1000000000L)))),
    Query("d5_cosine_dup_pairs", (s, dir) => Similarity.cosineDupPairs(Tables.embeddings(s, dir)),
      Sql(Similarity.cosineDupPairsSql())),
    Query("d9_semantic_dedup", (s, dir) => // SemDeDup-style resolution: CC over
      // the embedding-cosine pair graph (d5's banded-LSH path) -> one
      // keeper per semantic-dup chain; d6's text-space cousin
      Similarity.semanticDupClusters(Tables.embeddings(s, dir)),
      Sql(Similarity.semanticDupClustersSql())))

  /** The output contract the perplexity mirrors share. */
  private def perplexityValues(rows: Seq[(Long, Long, Long, String)]): String =
    values("doc_id" -> "BIGINT", "n_tokens" -> "BIGINT", "npt_e6" -> "BIGINT",
      "bucket" -> "VARCHAR")(rows, "doc_id")
}
