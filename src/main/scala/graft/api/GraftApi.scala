package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.GraftFunctions
import graft.ops.{AsOf, Curation, Dedup, Events, Graph, Retrieval, ScaleOps, Selection, Similarity, TextAnalysis}
import graft.plans.TopKPerGroup
import graft.text.TextOps

/** The user-facing library surface: df-in/df-out operators over YOUR
  * DataFrames, decoupled from the fixture-bound query registry
  * (`SparkEntry.queries` binds these same implementations to the test
  * corpus for the oracle gate — `ApiSpec` asserts the two stay equal).
  *
  * Document-frame contract: `doc_id` BIGINT (unique) + `text` STRING
  * unless a parameter says otherwise. All operators are deterministic —
  * md5-derived hashing, integer similarity predicates, no RNG — so every
  * pipeline is rerun-stable by construction.
  *
  * Reserved names: operators that ADD columns to your frame claim these
  * names (an existing column of the same name is replaced or shadowed) —
  * [[deterministicShuffle]]: `pos` (plus internal k/bkt/rk/off);
  * [[packWindows]]: `win`, `last_win` (plus internal cum_before);
  * [[sessionize]]: `session_id`; [[asofJoin]]: `asof_<tsCol>`,
  * `asof_<valueCol>` (plus internal __side/__asof); [[profile]]: `n_rows`
  * and `<col>_nulls/_distinct/_min/_max` in its output.
  */
object GraftApi {

  /** Register the graft SQL functions (`graft_clean_nb`, `graft_clean_svm`,
    * `graft_hamming`, `graft_dot`, `graft_shingle_h60`,
    * `graft_minhash_affine`, `graft_bloom_agg`, `graft_might_contain`, …)
    * on a session. Idempotent. */
  def registerFunctions(spark: SparkSession): Unit = GraftFunctions.register(spark)

  /** End-of-pipeline storage hygiene: free every block graft pinned on
    * this session — cached frames AND lineage-truncation checkpoint
    * blocks, which Spark never GC-frees in-process and
    * `spark.catalog.clearCache()` cannot see. Always safe: everything
    * graft pins can be recomputed from source, so at worst a still-live
    * lazy frame recomputes its next action. Call it between pipeline
    * stages in a long-lived session. */
  def releasePinned(spark: SparkSession): Unit = graft.ops.Pinned.releaseAll(spark)

  // ---- reference text-cleaning dialects (pure Catalyst columns) ----

  /** NB-dialect clean chain (url/mention/digit strip → non-alpha → lower →
    * trim/squeeze), `NB.java:67-73` order. */
  def cleanNb(c: Column): Column = TextOps.cleanNb(c)

  /** SVM-dialect clean chain, `SVM.java:76-79` order. */
  def cleanSvm(c: Column): Column = TextOps.cleanSvm(c)

  // ---- deduplication ----

  /** Exact-duplicate groups: one row per text with >1 copy —
    * (text_hash, n_copies, keeper = min doc_id). */
  def exactDupGroups(docs: DataFrame): DataFrame = Dedup.exactDupGroupsOf(docs)

  /** 4-permutation universal-hash MinHash signatures over word 3-gram
    * shingles — (doc_id, mh0..mh3), one row per input row. `doc_id` must
    * be unique per row: rows that share a doc_id are not merged into one
    * signature. */
  def minhashSignatures(docs: DataFrame): DataFrame = Dedup.minhashOf(docs)

  /** Near-duplicate pairs: banded-LSH candidates verified by exact Jaccard
    * ≥ `minJaccardBp` basis points — (id_a, id_b, inter, uni, jac_bp).
    * Candidates come from band-key equi-joins, never an all-pairs product.
    * `doc_id` must be unique per row: each row is signed on its own, so
    * rows that share a doc_id are not merged into one document. */
  def nearDupPairs(docs: DataFrame, minJaccardBp: Int = 8000): DataFrame =
    Dedup.nearDupPairsOf(docs, minJaccardBp)

  /** MinHash LSH band keys of `docs` (doc_id, text) as a PER-ROW
    * projection — the native `graft_shingle_h60` / `graft_minhash_affine`
    * kernel (one byte scan and one md5 per distinct shingle per doc), no
    * aggregation, no shuffle — so the same expression drives batch band
    * joins and STATELESS streaming band assignment (see
    * `Streams.st12`). Returns (doc_id, bucket) with two rows per doc
    * ("bandIndex:bandKey"). */
  def minhashBandKeys(docs: DataFrame): DataFrame =
    Dedup.minhashBandKeysOf(docs)

  /** Duplicate clusters: connected components over [[nearDupPairs]] —
    * (doc_id, cluster_id = min reachable doc_id, n_members). Keep
    * `doc_id == cluster_id`, drop the rest. `doc_id` must be unique per
    * row, as for [[nearDupPairs]]. */
  def dedupClusters(docs: DataFrame, minJaccardBp: Int = 8000): DataFrame =
    dedupClustersFromPairs(nearDupPairs(docs, minJaccardBp).select("id_a", "id_b"))

  /** The deduplicated corpus: `docs` (doc_id, text, …) minus every
    * non-canonical near-dup cluster member (canonical = min doc_id per
    * cluster). Non-dup rows pass through the LEFT ANTI probe untouched —
    * the drop list is only the docs that HAVE a near-dup. `doc_id` must be
    * unique per row, as for [[nearDupPairs]]. */
  def dedupedCorpus(docs: DataFrame, minJaccardBp: Int = 8000): DataFrame =
    Dedup.dedupedCorpusOf(docs, minJaccardBp)

  /** Same, over an existing (id_a, id_b) pair frame (e.g. pairs from an
    * embedding-based detector). */
  def dedupClustersFromPairs(pairs: DataFrame): DataFrame =
    Dedup.dedupClustersOf(pairs)

  /** Soft dedup: keep every document, down-weight duplicates — each doc
    * gets sampling weight 1e6 div cluster_size (singletons 1e6), with
    * the integer remainder assigned to the cluster's canonical member —
    * the min doc_id PRESENT in `docs` — so when `docs` covers every
    * cluster member each cluster's weights sum to EXACTLY 1e6: one
    * document-equivalent of expected training mass per duplicated
    * content unit, no truncation drift. If `docs` excludes members, the
    * remainder still lands on the min present member (never silently
    * lost) but present mass is < 1e6 — the absent shares are gone by
    * design. `clusters` is [[dedupClusters]] output and MUST carry
    * (doc_id, cluster_id, n_members) — since round 14 the cluster_id
    * column is required (older (doc_id, n_members)-only frames fail at
    * analysis). Emits (doc_id, cluster_size, weight_e6). */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame): DataFrame =
    Dedup.softDedupWeightsOf(docs, clusters)

  /** End-to-end corpus curation transform over a (doc_id, text, lang)
    * frame: near-dup keep-list (min-id canonical member per cluster) →
    * integer quality gate ≥ `qualityMin` → exact global token-budget cut
    * (PrefixSum-ranked by quality DESC, never a single-reducer window) →
    * per-language `packBudget`-token training windows. Returns
    * (doc_id, lang, win, toks). Registry twin: `pipe3_curated_corpus`
    * (which additionally materializes through the DSv2 two-phase-commit
    * sink and oracles the read-back). */
  def curateCorpus(docs: DataFrame, qualityMin: Long = 7450L,
      budget: Long = 150000L, packBudget: Long = 512L): DataFrame =
    graft.ops.Pipeline.curateAndPackOf(docs, qualityMin, budget, packBudget)

  /** Leakage-safe train/eval split: the split key is the near-dup
    * cluster id (falling back to doc_id for singletons), so every
    * cluster lands whole on one side and eval can never contain a
    * near-copy of a training document. Emits (doc_id, split_key,
    * split); assignment = salted-md5 mod 10⁴ < evalBp. */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame,
      evalBp: Int = 2500): DataFrame =
    Dedup.leakageSafeSplitOf(docs, clusters, evalBp)

  /** Incremental dedup: the new batch minus every row with a verified
    * near-dup (Jaccard ≥ minJaccardBp bp) in the EXISTING corpus — the
    * daily-ingest shape. Old×old is never touched; at scale the old
    * corpus's band keys are the stored dedup index and the new batch is
    * the probe side. */
  def incrementalDedupKeep(oldDocs: DataFrame, newDocs: DataFrame,
      minJaccardBp: Int = 8000): DataFrame =
    Dedup.incrementalKeepOf(oldDocs, newDocs, minJaccardBp)

  /** Semantic dedup keep-list (the SemDeDup recipe, Abbas et al. 2023):
    * cos ≥ 0.9 pairs over hyperplane-banded candidates become duplicate
    * edges; connected components keep the min-id representative per
    * cluster. Input: (vec_id BIGINT, q ARRAY<BIGINT>) integer-quantized
    * embeddings (round(e·1000), the [[quantizedCosineTopK]] convention);
    * returns the surviving vec_ids. Registers the graft SQL functions on
    * the input's session. */
  def semanticDedupedIds(vecs: DataFrame): DataFrame =
    Dedup.semanticDedupedIdsOf(vecs)

  /** Per-doc duplicated-substring stats (hashed fixed-width token
    * windows, the scalable variant of Lee et al. 2022's exact substring
    * dedup): docs with ≥ 1 window of `w` tokens whose hash occurs in
    * ≥ 2 distinct docs, as (doc_id, n_windows, n_dup_windows, dup_bp).
    * Docs shorter than `w` tokens have no windows and never appear. */
  def substringDupStats(docs: DataFrame, w: Int = 16): DataFrame =
    Dedup.substringDupStatsOf(docs, w)

  /** Excise every token covered by a duplicated `w`-token window (the
    * removal step of Lee et al. 2022's substring dedup): per changed doc,
    * (doc_id, n_tokens, n_removed, cleaned_md5). Unchanged docs are not
    * returned — the caller anti-joins to pass them through untouched. */
  def substringRemoval(docs: DataFrame, w: Int = 16): DataFrame =
    Dedup.substringRemovalOf(docs, w)

  /** Fuzzy decontamination (Dodge et al. 2104.08758): per train doc, the
    * fraction of its distinct word-3-gram shingles occurring anywhere in
    * the eval frame, in exact basis points — (doc_id, n_shingles, n_hit,
    * overlap_bp). Both args are (doc_id, text). The eval shingle set
    * broadcasts; the caller thresholds (registry d16 flags ≥ 500 bp). */
  def evalOverlapStats(train: DataFrame, eval: DataFrame): DataFrame =
    Dedup.evalOverlapStatsOf(train, eval)

  // ---- text analysis ----

  /** Redact PII in place: email → [EMAIL], phone → [PHONE], IPv4 → [IP]. */
  def redactPii(c: Column): Column = TextAnalysis.redactPii(c)

  /** Strip HTML markup: tags → space, core character entities decoded
    * (&amp; last, so no double-decode), whitespace squeezed — the
    * standard web-crawl pre-tokenization cleanup; map-side regex chain. */
  def stripHtml(c: Column): Column = TextAnalysis.stripHtml(c)

  /** Unicode NFC normalization (UAX #15) via the native codegen'd
    * [[graft.functions.NfcNormalize]] expression — decomposed accent
    * sequences recompose so hashing/dedup sees one canonical byte form.
    * Map-side, no shuffle. Requires [[registerFunctions]] (or the
    * `graft.GraftExtensions` session extension) on the session first. */
  def nfcNormalize(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_nfc", c)

  /** Per-doc PII counts + redaction md5 —
    * (doc_id, n_emails, n_phones, n_ips, redacted_md5). */
  def piiStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    TextAnalysis.piiStatsOf(docs, textCol)

  /** Per-doc repetition ratios (Gopher-style quality signal) —
    * (doc_id, n_tokens, dup_word_bp, n_trigrams, dup_tri_bp). */
  def repetitionStats(docs: DataFrame): DataFrame =
    TextAnalysis.repetitionStatsOf(docs)

  /** Dictionary language-ID: per-doc argmax of word hits against a
    * broadcast (word → lang) dictionary — (doc_id, lang_pred, n_hits),
    * 'und' when nothing hits. */
  def languageId(docs: DataFrame, dict: Seq[(String, String)]): DataFrame =
    TextAnalysis.languageIdOf(docs, dict)

  /** Integer quality scores (length/alpha/stopword/token-shape components,
    * basis points) — needs (doc_id, text, n_chars). */
  def qualityScore(docs: DataFrame): DataFrame = TextAnalysis.qualityScoreOf(docs)

  /** Min-frequency vocabulary induction + per-doc OOV rate: (doc_id,
    * n_toks, n_oov, oov_bp). The vocab is one hash agg (freq ≥ minFreq
    * bounds it, so the OOV probe broadcasts at scale). */
  def vocabOov(docs: DataFrame, minFreq: Long = 5L): DataFrame =
    TextAnalysis.vocabOovOf(docs, minFreq)

  /** Vocabulary sizing curve: per min-frequency cutoff, the induced
    * vocab size, kept token mass and OOV share in basis points — the
    * size-vs-coverage sweep behind a tokenizer's vocab choice. One
    * corpus scan; the sweep runs on the vocab-sized frequency table. */
  def vocabCurve(docs: DataFrame,
      cutoffs: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L)): DataFrame =
    TextAnalysis.vocabCurveOf(docs, cutoffs)

  /** Per-document add-1-smoothed unigram negative log-likelihood, the
    * CCNet-style LM quality signal: (doc_id, n_toks, nll_e6). Per-token
    * surprisals are e6 integers BEFORE summation, so scores are exact
    * integer arithmetic — rerun-stable at any partitioning. */
  def unigramNll(docs: DataFrame): DataFrame = TextAnalysis.unigramNllOf(docs)

  /** Sliding-window chunk assignments (doc_id, chunk_idx, start_tok,
    * chunk_toks) with `window − stride` tokens of overlap; a tail chunk
    * is kept only when it adds content beyond the overlap. Map-side
    * (integer sequence, no join). */
  def slidingChunks(docs: DataFrame, window: Int = 128, stride: Int = 96): DataFrame =
    TextAnalysis.slidingChunksOf(docs, window, stride)

  /** Token-count estimators (whitespace, BPE-ish regex, chars/4) — needs
    * (doc_id, text, n_chars). */
  def tokenCounts(docs: DataFrame): DataFrame = TextAnalysis.tokenCountsOf(docs)

  /** Boilerplate candidates: per source, the top-k word 3-gram shingles
    * by document frequency (df ≥ 2) — licence headers / template chrome
    * surface here before pair-level dedup fires. Needs (doc_id, text,
    * source); top-k runs through the bounded-exchange custom operator. */
  def boilerplateNgrams(docs: DataFrame, k: Int = 5): DataFrame =
    TextAnalysis.boilerplateNgramsOf(docs, k)

  /** Embedding norm health audit over a (vec_id, embedding, label)
    * frame: per label the exact median/MAD of the integer squared norms
    * and a 3-MAD outlier count — broken encoder batches surface as norm
    * outliers. dq2's MAD machinery verbatim. */
  def normAudit(vectors: DataFrame): DataFrame =
    Similarity.normAuditOf(vectors)

  /** Cross-document n-gram novelty over a (doc_id, text) frame: per doc,
    * its distinct 3-gram shingle count, how many of those appear in at
    * least one OTHER document, and novelty_bp — the boilerplate /
    * memorization-risk signal. Same shingle definition as the dedup
    * family. */
  def ngramNovelty(docs: DataFrame): DataFrame =
    TextAnalysis.ngramNoveltyOf(docs)

  /** Gopher quality-rule battery (Rae et al. 2112.11446 §A1.1): per-doc
    * word-count / mean-word-length / symbol / bullet / ellipsis /
    * alpha-word / stopword rules in integer basis points plus a conjoined
    * `keep` flag — one codegen projection, needs (doc_id, text, n_chars).
    * Line structure is derived arithmetically from doc_id (the fixture is
    * line-less); feed real multi-line text through your own line split
    * upstream if you have one. */
  def gopherRules(docs: DataFrame): DataFrame = TextAnalysis.gopherRulesOf(docs)

  /** C4 cleaning pass (Raffel et al. 1910.10683 §2.2): line-level
    * terminal-punctuation / ≥5-words / javascript rules, doc-level
    * lorem-ipsum / brace / ≥3-kept-lines drop, cleaned-doc md5 witness —
    * (doc_id, n_lines_total, n_kept_lines, n_kept_words, has_lorem,
    * has_brace, doc_kept, clean_md5). */
  def c4Filters(docs: DataFrame): DataFrame = TextAnalysis.c4FiltersOf(docs)

  /** Global concat-and-chunk packing fragmentation: cut the corpus token
    * stream (doc_id order) every `window` tokens — per chunk: docs
    * touching it, docs starting in it, token fill. Distributed prefix
    * sum; never a single-task window. */
  def packingStats(docs: DataFrame, window: Long = 2048L): DataFrame =
    TextAnalysis.packingStatsOf(docs, window)

  /** Order-sensitive rolling-hash document fingerprints —
    * (doc_id, fingerprint). */
  def fingerprints(docs: DataFrame): DataFrame = TextAnalysis.fingerprintsOf(docs)

  // ---- similarity ----

  /** Exact brute-force cosine top-k of a small (broadcastable) query set
    * against a corpus; both frames (vec_id BIGINT, embedding ARRAY<FLOAT>).
    * Returns (q_id, cand_id, rk, cos_r); zero-norm vectors are dropped and
    * a query never matches its own vec_id. The correct plan when |queries|
    * is small — for corpus-scale query sets use an LSH/IVF path first. */
  def cosineTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame =
    graft.ops.Similarity.cosineTopKOf(vectors, queries, k)

  /** Per-vector symmetric int8 quantization of (vec_id, embedding) —
    * (vec_id, q8 ARRAY<BIGINT> with values in [−64, 63], n8 squared
    * norm). Pure integer math (rerun- and engine-stable); at scale store
    * q8 as the 8×-smaller search structure. */
  def quantizeInt8(vectors: DataFrame): DataFrame =
    graft.ops.Similarity.quantizeInt8Of(vectors)

  /** [[cosineTopK]] over [[quantizeInt8]] vectors — same plan shape,
    * ~8× less data moved per candidate; recall@5 vs exact ≥0.8 on the
    * synthetic embeddings (DedupSimSpec). */
  def quantizedCosineTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame =
    graft.ops.Similarity.quantizedCosineTopKOf(vectors, queries, k)

  /** Batched ANN for a whole QUERY SET: the two-stage path (int8
    * prefilter over the corpus selects `k1` candidates per query, exact
    * cosine reranks only those — sim7's shape). Use THIS for multiple
    * queries, not a per-key kNN loop: MLlib's
    * `approxNearestNeighbors` (the lsh2 pattern) runs one O(|corpus|)
    * scan PER query key from the driver, so a 1 000-query set costs
    * 1 000 jobs, while this broadcasts all the queries into ONE corpus
    * pass regardless of |Q|. Deterministic (integer dots, cand_id
    * tie-break) and exact whenever the true top-k survives the `k1`
    * prefilter — MlLshSpec shows it returning the exact brute-force
    * neighbors for lsh2's own query keys. */
  def cosineTopKMany(vectors: DataFrame, queries: DataFrame, k: Int,
      k1: Int = 32): DataFrame =
    graft.ops.Similarity.rerankTopKOf(vectors, queries, k1 = k1, k = k)

  // ---- clustering ----

  /** Distributed k-means (2 Lloyd passes, deterministic lowest-id seeds,
    * exact integer L2 over quantized components) — per-cluster report
    * (cluster_id, n_members, sum_vec_id, inertia, centroid_l1). Needs
    * (vec_id BIGINT, embedding ARRAY<FLOAT>) with vec_ids 1..8 present.
    * Centroids ride the plan as literals: assignment is a zero-shuffle
    * projection, recompute one tiny partial-agg exchange. */
  def kmeansReport(vectors: DataFrame, iterations: Int = 2): DataFrame =
    graft.ops.Clustering.kmeansOf(vectors, iterations)

  /** Cluster-balanced sample: ≤ `quota` members per final k-means
    * cluster, picked by md5(vec_id) — the diversity-preserving prune
    * (dominant clusters truncate, rare clusters survive whole). The cut
    * runs through the bounded-exchange TopKPerGroup operator, not a
    * k-partition window. Returns (vec_id, cluster_id, pick_key). */
  def clusterBalancedSample(vectors: DataFrame, quota: Int = 40): DataFrame =
    graft.ops.Clustering.clusterBalancedSample(vectors, quota)

  // ---- temporal ----

  /** Inclusive as-of join: for each left row, attach `asof_<tsCol>` /
    * `asof_<valueCol>` from the latest right row with right.ts <= left.ts
    * sharing `keyCol` (NULL when none). One shuffle on the key, never a
    * candidate-pair product. Pre-dedupe right rows at identical (key, ts)
    * for a deterministic pick; `valueCol` must not collide with a left
    * column. */
  def asofJoin(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, valueCol: String): DataFrame =
    AsOf.asofJoinOf(left, right, keyCol, tsCol, valueCol)

  /** Nearest as-of join (pandas `merge_asof(direction='nearest')`): each
    * left row paired with the closest right row in EITHER direction
    * within `tolerance` (ties prefer backward); unmatched left rows are
    * dropped. One shuffle on the key, no candidate pairs. Right rows
    * must be unique at (key, ts). */
  def asofNearest(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, valueCol: String, tolerance: Long): DataFrame =
    AsOf.asofNearestOf(left, right, keyCol, tsCol, valueCol, tolerance)

  /** Gap-based sessionization: tags each event with a per-key `session_id`
    * (1..k in (tsCol, tieCol) order; a new session starts when the gap to
    * the previous event exceeds `gapUs`, strict >). One shuffle on the
    * key. `tsCol` must be a TIMESTAMP column. */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, gapUs: Long): DataFrame =
    Events.sessionizeOf(events, keyCol, tsCol, tieCol, gapUs)

  // ---- sampling ----

  /** Deterministic Bernoulli keep column: true for `keepBp` basis points
    * of ids by salted-md5 draw — RNG-free and rerun-stable; `keepBp` may
    * be per-row (e.g. a CASE over a source column) for corpus mixing. */
  def bernoulliKeep(id: Column, salt: String, keepBp: Column): Column =
    ScaleOps.bernoulliKeep(id, salt, keepBp)

  /** DoReMi-style domain reweighting over (doc_id, text, source): per
    * domain, w ∝ n·exp(η·excess-NLL-vs-baseline) as integer basis
    * points — (source, n_docs, mean_nll_e6, excess_e6, exp_e6,
    * weight_bp). Feed `weight_bp` into [[bernoulliKeep]] (or a sampler)
    * to realize the mixture. */
  def doremiWeights(docs: DataFrame): DataFrame =
    ScaleOps.doremiWeightsOf(docs)

  // ---- batch/layout planning ----

  /** Concat-and-chunk packing assignment: adds `win` (the pretraining
    * window this row's first token lands in, per-shard running token
    * count div `budget`) and `last_win` (where its last token lands —
    * differs when the row straddles a boundary). Per-shard windowed
    * cumsum, no global sort. */
  def packWindows(docs: DataFrame, shardCol: String, orderCol: String,
      toksCol: String, budget: Long): DataFrame =
    ScaleOps.packWindowsOf(docs, shardCol, orderCol, toksCol, budget)

  /** Z-order (Morton) key of two 16-bit dimensions — lay files out with
    * `repartitionByRange(col("z")).sortWithinPartitions(col("z"))` before
    * the write so parquet min/max stats skip files for predicates on
    * EITHER dimension. Pure `&`/`|`/`<<` int64 math. */
  def zorderKey(x: Column, y: Column): Column = ScaleOps.zorder2(x, y)

  /** Append a 16-level Hilbert-curve index column `h` over two integer
    * key columns — the locality upgrade over [[zorderKey]] (no Morton
    * diagonal jumps, so per-file min/max rectangles are tighter; 26%
    * lower on the fixture's semi-perimeter proxy, `ScaleOpsSpec`).
    * Frame-in/frame-out because the index is built by 16 chained
    * projections (linear plan growth) rather than one column
    * expression; follow with `repartitionByRange(col("h"))
    * .sortWithinPartitions("h")` exactly like the z-order path. */
  def hilbertIndexed(df: DataFrame, xCol: String, yCol: String): DataFrame =
    ScaleOps.hilbert16(df, xCol, yCol)

  /** Per-doc diff of two corpus snapshots keyed on doc_id, comparing
    * md5(text): (doc_id, status in added/removed/changed/unchanged) —
    * the what-moved audit before retraining on a refreshed corpus. One
    * full-outer hash join on the key. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    ScaleOps.snapshotDiffOf(oldDocs, newDocs)

  /** Matryoshka prefix-dimension retrieval recall (Kusupati et al.
    * 2022): per query, how much of the full-dimension exact top-k a
    * `dims`-dim prefix ranking retains — (q_id, n_hits, recall_bp). The
    * safety audit before serving truncated-embedding indexes. */
  def matryoshkaRecall(vectors: DataFrame, queries: DataFrame,
      dims: Int = 16, k: Int = 3): DataFrame =
    Similarity.matryoshkaRecallOf(vectors, queries, dims, k)

  /** Type-2 (SCD2) history of `attrCol` per `keyCol`: consecutive equal
    * values collapse into (keyCol, version, attrCol, valid_from_us,
    * valid_to_us) intervals; NULL valid_to = current. `tsUsCol` must be
    * an integer-microsecond column; `tieCol` breaks equal timestamps.
    * One shuffle on the key. */
  def scd2History(df: DataFrame, keyCol: String, attrCol: String,
      tsUsCol: String, tieCol: String): DataFrame =
    ScaleOps.scd2HistoryOf(df, keyCol, attrCol, tsUsCol, tieCol)

  /** Count-min-sketch heavy hitters over a string column: rows whose CMS
    * ESTIMATE ≥ `minEst`, with exact counts beside the estimates
    * (est ≥ exact always; est ≤ exact + ε·N w.h.p.). The sketch builds
    * as a distributed aggregate and broadcasts once — bounded memory
    * regardless of key-space size. */
  def cmsHeavyHitters(df: DataFrame, column: String, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42, minEst: Long = 100L): DataFrame =
    ScaleOps.cmsHeavyHittersOf(df, column, eps, confidence, seed, minEst)

  /** Single-scan column profile grouped by `groupCol`: per remaining
    * column — null count, distinct count, min/max (stringified). */
  def profile(df: DataFrame, groupCol: String): DataFrame =
    ScaleOps.profileOf(df, groupCol)

  /** Data-quality expectations report: each (name, violation-predicate)
    * pair becomes a CASE-sum inside ONE partial+final aggregate over a
    * single scan — returns (check_name, n_rows, n_violations), |checks|
    * rows regardless of input size. Write predicates so NULL evaluates
    * TRUE where a null should count as a violation. */
  def expectations(df: DataFrame, checks: Seq[(String, Column)]): DataFrame =
    ScaleOps.expectationsOf(df, checks)

  /** EXACT per-group percentiles via (value, freq) + cumulative-rank pick
    * — one shuffle on the group, no global sort, bit-deterministic (the
    * audit path beside `approx_percentile`). Returns
    * (groupCol, pct, exact_pct). */
  def exactPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      pcts: Seq[Double]): DataFrame =
    ScaleOps.exactPercentilesOf(df, groupCol, valueCol, pcts)

  /** Two-stage ANN: a cheap int8-quantized pass selects `k1` candidates
    * per query, then exact full-precision cosine reranks only those —
    * the expensive pass touches k1·|queries| rows, never the corpus.
    * Both frames (vec_id, embedding); returns (q_id, cand_id, rk,
    * cos_r). */
  def rerankTopK(vectors: DataFrame, queries: DataFrame,
      k1: Int = 32, k: Int = 5): DataFrame =
    Similarity.rerankTopKOf(vectors, queries, k1, k)

  /** Time-series resample + gap fill: buckets `tsCol` into exact integer
    * `bucketUs` intervals per `keyCol`, densifies each key's span with
    * `sequence()`, and fills missing buckets by last-observation-carried-
    * forward. `valueCents` must be an exact-integer value column. Returns
    * (keyCol, h, n_events, sum_c_locf, is_gap). */
  def resampleLocf(events: DataFrame, keyCol: String, tsCol: String,
      valueCents: Column, bucketUs: Long = 3600L * 1000000L): DataFrame =
    Events.resampleLocfOf(events, keyCol, tsCol, valueCents, bucketUs)

  /** Integer PageRank over an edge frame (src, dst): damping 0.85 in
    * exact thousandths, contributions `rank div degree` — every
    * iteration is deterministic integer math (cross-engine bit-exact,
    * unlike float PR). One shuffle per iteration; the driver loop holds
    * only the iteration count. Provide both directions for an undirected
    * walk; every node needs out-degree ≥ 1. Returns (node, rank_e6). */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame =
    graft.ops.Graph.pageRankOf(edges, iters)

  /** Word co-occurrence + PMI over `docs` (doc_id, text): document-level
    * pair counts (presence, not frequency) with support ≥ `minSupport`,
    * PMI in exact integer micro-units. Pair fanout is bounded per doc by
    * its distinct-token count — linear in corpus size. Returns
    * (wa, wb, c_xy, pmi_e6). */
  def pmiCooccurrence(docs: DataFrame, minSupport: Long = 20L): DataFrame =
    TextAnalysis.pmiCooccurrenceOf(docs, minSupport)

  /** BM25 top-k document retrieval: ranks `docs` (doc_id, text) against
    * each query in `queries` (query_id, term) — k1 = 1.2, b = 0.75,
    * idf = ln(1 + (N−df+0.5)/(df+0.5)). The inverted index is two hash
    * aggregates over one token explode; the query set broadcasts against
    * the postings, so the corpus is never scanned per query. Scores are
    * ranked as exact integer micro-units (doc_id breaks ties). Returns
    * (query_id, rnk, doc_id, score_e6).
    *
    * Storage: each call persists its postings and doc-length frames
    * (MEMORY_AND_DISK), so the corpus is tokenized once per call, and
    * does NOT free them — call [[releasePinned]] once the result is
    * consumed. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    Retrieval.bm25TopKOf(docs, queries, k)

  /** Ranking-quality report for BM25 retrieval over deterministic
    * binary relevance (a doc is relevant iff it contains EVERY query
    * term as a whole token): per query — corpus-wide relevant count,
    * relevant-in-top-k, first relevant rank, MRR, precision@k, and
    * nDCG@k with literal-integer 1/log₂(i+1) discounts (no float log in
    * either engine). Registry twin: `ret5_ranking_quality`.
    *
    * Storage: like [[bm25TopK]], each call persists its postings and
    * doc-length frames and does not free them — call [[releasePinned]]
    * once the result is consumed. */
  def rankingMetrics(docs: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    Retrieval.rankingMetricsOf(docs, queries, k)

  /** Hybrid-retrieval fusion: reciprocal-rank fusion (Cormack et al.,
    * SIGIR 2009; K = 60) of a sparse ranking (`bm25TopK`'s shape:
    * query_id, rnk, doc_id) and a dense ranking (`cosineTopK`'s shape:
    * q_id, cand_id, rk). Integer micro-unit rank math — engine-exact.
    * Returns (query_id, rnk, doc_id, rrf_e6, rnk_sparse, rnk_dense),
    * top `kOut` per query. */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, kOut: Int = 10): DataFrame =
    Retrieval.rrfFuseOf(sparse, dense, kOut)

  // ---- ordering / top-k ----

  /** Reproducible pseudo-random total order: adds `pos` (dense 1..N over
    * salted-md5 order) via a distributed prefix sum — no global window.
    * Same salt + same ids ⇒ identical order on every rerun. */
  def deterministicShuffle(df: DataFrame, idCol: String, salt: String = "shuf:"): DataFrame =
    ScaleOps.deterministicShuffleOf(df, idCol, salt)

  /** Systematic sampling: every k-th row of the deterministic shuffle —
    * exactly ceil(n/k) rows (zero count variance, unlike a Bernoulli
    * keep), implicitly stratified by the hash order. */
  def systematicSample(df: DataFrame, idCol: String, k: Int,
      salt: String = "samp8:"): DataFrame =
    ScaleOps.systematicSampleOf(df, idCol, k, salt)

  /** Deterministic uniform k-sample per group: rows ordered by md5(id,
    * salt) — a fixed pseudo-random total order — with the first k per
    * group kept by the custom partial/final top-k operator (exchange
    * carries ≤ k rows per group per partition, never the table). Same
    * salt + ids ⇒ same sample every rerun. Bounded group domains only
    * (see `TopKPerGroup.scala`'s capacity contract). Adds an `hkey`
    * column (the sample order witness). */
  def groupSample(df: DataFrame, groupCol: String, idCol: String,
      k: Int, salt: String = ":sample"): DataFrame =
    ScaleOps.groupSampleOf(df, groupCol, idCol, k, salt)

  /** Top-k rows per group through the custom partial/final strategy whose
    * exchange carries ≤ k rows per (group, partition). `orderBy` pairs are
    * (column, descending?). Bounded group domains only — see the operator
    * contract in `TopKPerGroup.scala`. */
  def topKPerGroup(df: DataFrame, groupBy: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int): DataFrame =
    TopKPerGroup(df, groupBy, orderBy, k)

  // ---- data selection & tokenizer induction ----

  /** UniMax epoch-capped budget allocation (Chung et al. 2023): water-
    * fills a one-epoch corpus budget across sources with no source
    * exceeding `epochCap` passes over its own tokens. One corpus scan
    * (map-side-combined per-source counts); the fill itself is a window
    * over |sources| rows. Emits (source, n_toks, cap, alloc, epochs_bp),
    * all exact integers. */
  def unimaxAllocation(docs: DataFrame, epochCap: Long = 2L): DataFrame =
    Selection.unimaxAllocationOf(docs, epochCap)

  /** DSIR unigram importance top-k (Xie et al. 2023): ranks raw docs by
    * Σ_tokens [ln p_target − ln p_raw] (add-1 smoothed, each ln in e6
    * micro-nats so the ranking is engine-exact). `targetSources` defines
    * the target slice. Global top-k plans as TakeOrderedAndProject. */
  def dsirTopK(docs: DataFrame, targetSources: Seq[String], k: Int = 50): DataFrame =
    Selection.dsirTopKOf(docs, targetSources, k)

  /** Per-document Shannon character entropy (a–z+space alphabet, e6
    * micro-nats) with a keep flag — the cheap repeated-char/noise spam
    * filter. Histogram is 27 replace length-diffs per doc: a projection
    * off the scan, never a per-character explode. */
  def charEntropy(docs: DataFrame): DataFrame =
    Selection.charEntropyOf(docs)

  /** Adjacent-pair statistics over the distinct-token vocabulary weighted
    * by corpus term frequency — the first-iteration BPE trainer statistic
    * (vocab-sized after one corpus scan). */
  def bpePairStats(docs: DataFrame, k: Int = 20): DataFrame =
    Selection.bpePairStatsOf(docs, k)

  /** k BPE merge iterations (Sennrich et al. 2016) over the distributed
    * vocabulary: per iteration one vocab-sized pair aggregate, a 1-row
    * argmax collect, and one merge projection. Emits (iter, left_sym,
    * right_sym, pair_count). */
  def bpeMerges(docs: DataFrame, k: Int = 4): DataFrame =
    Selection.bpeMergesOf(docs, k)

  /** Per-document mean bigram NLL under an add-1-smoothed corpus bigram
    * LM (e6 micro-nats) — the perplexity-filter refinement of t15's
    * unigram score. */
  def bigramNll(docs: DataFrame): DataFrame =
    Selection.bigramNllOf(docs)

  /** Fill-in-the-middle PSM transform (Bavarian et al. 2022): two
    * salted-md5 split points per doc, `<PRE>p<SUF>s<MID>m` output.
    * Map-side projection, no shuffle. */
  def fimSplit(docs: DataFrame): DataFrame =
    Selection.fimSplitOf(docs)

  /** Collapse runs of consecutive repeated tokens (cleaned-text
    * counterpart of the t10 repetition stats). One codegen'd array
    * lambda — no explode, no shuffle. */
  def adjacentDedup(docs: DataFrame): DataFrame =
    Selection.adjacentDedupOf(docs)

  /** EXACT set-similarity self-join by PPJoin-style prefix filtering:
    * all document pairs with shingle-Jaccard ≥ tauBp/10⁴, joining only
    * on each doc's rarest-first prefix (no DF cap, no loss — the
    * principled scale path where hot-shingle buckets would otherwise
    * blow up). Emits (id_a, id_b, jac_bp). */
  def ppjoinPairs(docs: DataFrame, tauBp: Long = 6000L): DataFrame =
    Dedup.ppjoinPairsOf(docs, tauBp)

  /** Encode the corpus with a learned BPE merge list (bpeMerges order)
    * and account per-doc symbol counts before/after + compression bp.
    * Merges apply over the distinct-token vocabulary; the corpus is
    * scanned once. */
  def bpeEncodeStats(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    Selection.bpeEncodeStatsOf(docs, merges)

  /** Length-bucket padding-waste audit: per width-`bucketWidth` token
    * bucket, docs / real tokens / padding waste (bp) / microbatch count
    * at `microBatch` — the number that arbitrates length-bucketed
    * batching vs concat-and-chunk packing. One map-side projection +
    * one tiny aggregate. */
  def lengthBuckets(docs: DataFrame, bucketWidth: Long = 64L, microBatch: Long = 8L): DataFrame =
    Selection.lengthBucketsOf(docs, bucketWidth, microBatch)

  /** Curriculum epoch order: stage 1..4 by quality quartile (stage 1 =
    * cleanest quartile first), salted-md5 shuffle within stage, global
    * stage-major position via distributed prefix-sum — no single-reducer
    * window. Emits (doc_id, quality, stage, pos). */
  def curriculumOrder(docs: DataFrame): DataFrame =
    Curation.curriculumOrderOf(docs)

  /** Pairwise source-preference counts per lang block (Mann–Whitney
    * rank-sum over quality grades — document pairs are never
    * materialized). Emits (lang, src_a, src_b, wins_a, wins_b, ties,
    * winrate_a_bp). */
  def pairwiseWins(docs: DataFrame): DataFrame =
    Curation.pairwiseWinsOf(docs)

  /** Bradley–Terry source strengths from pairwiseWins output: `iters`
    * MM iterations in exact integer micro-units on the tiny
    * sources×sources matrix. Emits (source, beta_e6). */
  def bradleyTerry(wins: DataFrame, iters: Int = 3): DataFrame =
    Curation.bradleyTerryOf(wins, iters)

  /** Best-of-n reward curve over a (prompt_id, sample_id, reward_c)
    * frame: for each n, the count of prompts with ≥ n samples and the
    * exact mean of max(reward over the first n deterministic draws) —
    * the rejection-sampling payoff plot. `avg_best_c` is FLOOR division
    * (well-defined for negative reward sums, e.g. signed RLHF rewards).
    * Emits (n, n_prompts, sum_best_c, avg_best_c). */
  def bestOfNCurve(samples: DataFrame, ns: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame =
    Curation.bestOfNCurveOf(samples, ns)

  /** Per-node triangle counts over an undirected (a, b) edge frame with
    * a < b — degree-oriented wedge join (arboricity-bounded fan-out,
    * never a naive hub-quadratic enumeration). */
  def triangleCounts(edges: DataFrame): DataFrame =
    Graph.triangleCountsOf(edges)

  /** Common-neighbor link prediction over a bipartite (left, right)
    * edge frame: top-k (s_a, s_b) right-node pairs by shared left
    * neighbors, with exact integer Jaccard. Per-left wedge lists are
    * capped (salted, oracle-replayable) so hub nodes never go
    * quadratic. */
  def commonNeighborTopK(edges: DataFrame, k: Int, cap: Int = 50): DataFrame =
    Graph.commonNeighborTopKOf(edges, k, cap)

  /** Adamic–Adar link prediction over the same bipartite wedges: each
    * shared left-node witness contributes 1/ln(degree) (e6-rounded
    * once), so hub witnesses count less than selective ones. */
  def adamicAdarTopK(edges: DataFrame, k: Int, cap: Int = 50): DataFrame =
    Graph.adamicAdarTopKOf(edges, k, cap)

  /** MMR-diversified top-k (λ = 0.7, exact integer scores) over each
    * query's nCand exact-cosine candidates. Emits (q_id, cand_id, rk,
    * score_e7). `bucketed = true` feeds the greedy re-rank from the
    * LSH-bucketed candidate stage instead of the brute-force scan — the
    * 100 TB shape (per-query work is bucket-sized), at a measured recall
    * cost. */
  def mmrDiverseTopK(vectors: DataFrame, queries: DataFrame,
      nCand: Int = 20, k: Int = 5, bucketed: Boolean = false): DataFrame =
    Similarity.mmrDiverseTopKOf(vectors, queries, nCand, k, bucketed)

  /** Warner randomized response over a categorical column (deterministic
    * salted-md5 draws — replayable local-DP) plus the exact integer
    * unbiased frequency estimator. Emits (category, true_n, reported_n,
    * est_n). Needs ≥ 2 categories. */
  def randomizedResponse(cust: DataFrame, pBp: Long = 6000L): DataFrame =
    Curation.randomizedResponseOf(cust, pBp)

  /** Assemble per-user session trajectories (10-min buckets, turns in
    * (ts, event_id) order) into training-sample rows: (user_id, bkt,
    * n_turns, first_type, last_type, path_md5). One shuffle; in-group
    * sort is map-side per session. */
  def sessionPaths(events: DataFrame): DataFrame =
    Curation.sessionPathsOf(events)

  /** Median/MAD robust outlier audit of an integer (grp, v) frame:
    * (grp, med_c, mad_c, n, n_out, out_bp) with |v − median| > 3·MAD
    * flagged — exact integer percentile picks, never a global sort. */
  def madOutliers(df: DataFrame): DataFrame =
    Curation.madOutliersOf(df)

  /** `rounds` k-core peeling passes over an undirected (a, b) edge
    * frame; emits surviving (node, deg_core). */
  def kcorePeel(edges: DataFrame, k: Int = 3, rounds: Int = 3): DataFrame =
    Graph.kcorePeelOf(edges, k, rounds)

  /** Deterministic synchronous label propagation over an undirected
    * (a, b) edge frame: `rounds` mode-vote rounds (ties → smallest
    * label); emits (node, community, csize). */
  def labelPropagation(edges: DataFrame, rounds: Int = 2): DataFrame =
    Graph.labelPropagationOf(edges, rounds)

  /** Per-label embedding audit: integer-mean centroid cohesion
    * (mean squared-L2 to own centroid) and separation (nearest foreign
    * centroid + distance) over a (vec_id, embedding, label) frame. */
  def labelCentroidAudit(vecs: DataFrame): DataFrame =
    graft.ops.Clustering.labelCentroidAuditOf(vecs)

  /** Simplified (centroid-based) silhouette of the k-means assignment
    * over a (vec_id, embedding) frame: per cluster the mean silhouette
    * in basis points plus the closer-foreign-centroid count. */
  def simplifiedSilhouette(vecs: DataFrame): DataFrame =
    graft.ops.Clustering.silhouetteOf(vecs)

  /** Weighted-term BM25 top-k: queries carry (query_id, term, wt_bp);
    * each term's contribution scales by wt_bp/10⁴ — the primitive under
    * PMI query expansion (ret3).
    *
    * Storage: like [[bm25TopK]], each call persists its postings and
    * doc-length frames and does not free them — call [[releasePinned]]
    * once the result is consumed. */
  def bm25WeightedTopK(docs: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    Retrieval.bm25WeightedTopKOf(docs, queries, k)

  /** IR-quality metrics of a ranked candidate list: `ranked` is
    * (q_id, cand_id, rk), `labels` is (vec_id, label); per query emits
    * MRR/DCG@k/nDCG (e6/bp integers), precision@k and corpus recall@k
    * under label-match relevance. */
  def irMetrics(ranked: DataFrame, labels: DataFrame, k: Int = 10): DataFrame =
    graft.ops.Evaluation.irMetricsOf(ranked, labels, k)

  /** Population Stability Index of each source's n_chars distribution
    * vs `refSource` (11 fixed-width bins, Laplace-smoothed, e6 integer);
    * `drifted` flags PSI > 0.2. */
  /** Cohen's kappa between two binary raters over an (a, b) frame of
    * 0/1 columns — agreement beyond chance, the audit before swapping an
    * expensive rater for a cheap one. Emits one row
    * (n, n11, n10, n01, n00, po_e6, pe_e6, kappa_e6), all exact-integer
    * (DECIMAL-safe at corpus² scale). */
  def cohensKappa(rated: DataFrame): DataFrame =
    graft.ops.Evaluation.cohensKappaOf(rated)

  /** ROUGE-2 on the distinct-bigram set basis over a (pair_id, side,
    * text) frame (side 0 = reference, 1 = candidate): per pair the two
    * distinct-bigram counts, their overlap and exact basis-point
    * precision / recall / F1. Pairs missing either side are dropped. */
  def rougeBigram(pairs: DataFrame): DataFrame =
    graft.ops.Evaluation.rougeBigramOf(pairs)

  /** First-order Markov transition matrix of the per-user event-type
    * chain over an (user_id, ts, event_id, event_type) frame: counts of
    * each adjacent (cur_type → nxt_type) step plus exact basis-point
    * row-normalized probabilities. */
  def markovTransitions(events: DataFrame): DataFrame =
    graft.ops.Curation.markovTransitionsOf(events)

  /** Stationary distribution of the [[markovTransitions]] chain:
    * `iters` exact-integer power-iteration steps of π′ = πP from a
    * uniform start — (state, pi_e6). Absorbing states and bp truncation
    * are part of the documented integer contract. */
  def markovStationary(events: DataFrame, iters: Int = 3): DataFrame =
    graft.ops.Curation.markovStationaryOf(events, iters)

  /** Burst windows: per event type, the hourly buckets more than two
    * exact-integer standard deviations above the type's present-hour
    * baseline — (event_type, window_start, n_events, z2_e2). Needs
    * (ts, event_type). */
  def burstWindows(events: DataFrame): DataFrame =
    graft.ops.Events.burstWindowsOf(events)

  /** Zipf rank-frequency OLS slope per source over a (source, text)
    * frame: ln-ln fit across the top `topR` word ranks, emitted negated
    * in e6 (≈1e6 for natural text). */
  def zipfSlope(docs: DataFrame, topR: Int = 100): DataFrame =
    graft.ops.TextAnalysis.zipfSlopeOf(docs, topR)

  /** Type-token ratio and hapax share per document over a (doc_id,
    * text) frame — exact integer counts plus basis-point ratios. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.lexicalDiversityOf(docs)

  /** FK-integrity audit of one (child, parent) relationship: orphan
    * child keys, unreferenced parent keys, and both distinct-key
    * totals as four labeled rows. */
  def refIntegrity(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, rel: String): DataFrame =
    graft.ops.Evaluation.refIntegrityOf(child, childKey, parent, parentKey, rel)

  /** Join-key skew audit: the top-`topK` heaviest keys of `keyCol`
    * with exact shares against the p50/p99 per-key frequency — run it
    * before shuffling a large corpus on the key (a head key at 100x
    * p50 wants sk2's salting treatment). */
  def keySkewAudit(rows: DataFrame, keyCol: String, topK: Int = 10): DataFrame =
    ScaleOps.keySkewAuditOf(rows, keyCol, topK)

  /** Deterministic bootstrap CI (hash-Poissonized resamples, no RNG)
    * on the n_chars >= 300 pass-rate of a (doc_id, n_chars) frame:
    * one row (point_bp, p05_bp, p50_bp, p95_bp, n_reps). */
  def bootstrapCi(docs: DataFrame, b: Int = 200): DataFrame =
    graft.ops.Evaluation.bootstrapCiOf(docs, b)

  /** Benford first-digit audit over a positive integer value column —
    * the fabricated/corrupted-numeric screen. Per digit: observed count,
    * observed share (e6), the Benford expectation and the absolute
    * deviation. */
  def benfordAudit(values: DataFrame, valueCol: String): DataFrame =
    graft.ops.Evaluation.benfordOf(values, valueCol)

  /** Unbiased pass@k (Chen et al. 2021) over a (taskCol, passCol ∈
    * {0,1}) sample frame, for k ∈ {1, 5, 10}: per task,
    * 1 − C(n−c,k)/C(n,k) as two exact falling factorials in
    * DECIMAL(38,0) — no doubles, no binomials. Emits
    * (task_id, k, n, c, pass_at_k_e6); tasks with n < k skip that k. */
  def passAtK(samples: DataFrame, taskCol: String, passCol: String): DataFrame =
    graft.ops.Evaluation.passAtKOf(samples, taskCol, passCol)

  /** Query-likelihood retrieval with Dirichlet smoothing (μ = 2000) —
    * the probabilistic alternative to [[bm25TopK]]; same
    * (query_id, term) query frame, same (query_id, rnk, doc_id,
    * score_e6) output, per-term ln rounded to e6 BEFORE the integer
    * per-doc sum (rank order engine-exact by construction).
    *
    * Storage: like [[bm25TopK]], each call persists its postings and
    * doc-length frames and does not free them — call [[releasePinned]]
    * once the result is consumed. */
  def queryLikelihoodTopK(docs: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    Retrieval.queryLikelihoodTopKOf(docs, queries, k)

  def psiDrift(docs: DataFrame, refSource: String): DataFrame =
    graft.ops.Evaluation.psiDriftOf(docs, refSource)

  /** Exact two-sample Kolmogorov–Smirnov distance of each source's
    * n_chars distribution vs `refSource` — integer cross-multiplied
    * CDFs, one e6 rounding at the end. */
  def ksDistance(docs: DataFrame, refSource: String): DataFrame =
    graft.ops.Evaluation.ksDistanceOf(docs, refSource)

  /** Deterministic 80/10/10 train/val/test split report per (lang,
    * split): salted-md5 draw, map-side, rerun-stable. */
  def hashSplit(docs: DataFrame): DataFrame =
    graft.ops.Evaluation.hashSplitOf(docs)

  /** Token-boundary blocklist filter stats per source: flagged docs,
    * flag rate (bp), and total whole-token hits. */
  def blocklistStats(docs: DataFrame, blocklist: Seq[String]): DataFrame =
    graft.ops.Evaluation.blocklistStatsOf(docs, blocklist)

  /** Weighted random sampling without replacement (Efraimidis–Spirakis
    * A-ES): k docs keyed by ln(u)/n_chars with a salted-md5 u —
    * deterministic, map-side, global top-k via TakeOrderedAndProject. */
  def weightedSample(docs: DataFrame, k: Int, salt: String = "samp4:"): DataFrame =
    graft.ops.Selection.weightedSampleOf(docs, k, salt)

  /** fastText-shape hashed-feature linear scoring per source (unigram +
    * bigram buckets, zero-shuffle map-side fold); deterministic md5
    * stand-in weights — swap in learned weights for production. */
  def hashedLinearScore(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.hashedLinearScoreOf(docs)

  /** Bucketed interval join: every (point, interval) pair with
    * s ≤ pt < e, planned as an EQUI-join on fixed-width time buckets
    * (intervals explode to covered buckets) instead of the nested-loop
    * theta join Spark would otherwise pick. `bucketW` should be ≥ the
    * typical interval length so each interval covers ≤ 2 buckets. */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
      ptCol: String, sCol: String, eCol: String, bucketW: Long): DataFrame =
    graft.ops.AsOf.rangeJoinOf(points, intervals, ptCol, sCol, eCol, bucketW)

  /** Connected components over a pair list via large-star/small-star
    * (Kiveris et al. 2014): same output as [[dedupClustersFromPairs]] in
    * O(log n) rounds independent of component diameter — the CC engine
    * for adversarial (long-chain) dup topologies. */
  def ccLargeStar(pairs: DataFrame): DataFrame =
    Dedup.ccLargeStarSmallStar(pairs)

  /** Bottom-k (KMV/theta) distinct sketch rows for a (grp, v) frame —
    * deterministic salted-md5 order statistics, mergeable by re-cutting
    * the k smallest of a sketch union (the per-shard state for global
    * distinct counts that never rescan data). */
  def kmvSketch(values: DataFrame, k: Int = 256): DataFrame =
    ScaleOps.kmvSketchOf(values, k)

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS sketch) per
    * document: local minima of windowed k-gram hashes, guaranteeing any
    * shared run of ≥ w+k−1 tokens shares a fingerprint. Zero-exchange
    * array-HOF projection. */
  def winnowing(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    TextAnalysis.winnowingOf(docs, k, w)

  /** Integer HITS hubs/authorities over a directed (src, dst) edge frame
    * (Kleinberg 1999): per round one groupBy shuffle per side, max-
    * renormalized by exact integer division. Returns (node, auth_e6). */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame =
    graft.ops.Graph.hitsOf(edges, iters)

  /** Per-subspace PQ codebooks (Jégou et al. 2011) trained with cl1's
    * integer-exact Lloyd conventions over a [[Similarity.qnormOf]]
    * frame; feed to an ADC scan for compressed-domain ANN. */
  /** IVF-PQ top-k (the FAISS billion-scale serving shape): a coarse
    * quantizer (8 cells from the lowest-id vectors) restricts each query
    * to ONE inverted-file cell, and in-cell candidates are scored in the
    * compressed domain via PQ ADC tables — a query touches ~1/8 of the
    * corpus and never reads a full vector. Emits (q_id, cand_id, rk,
    * adist). Registry twin: `sim10_ivfpq_topk` (oracle-checked). */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, k: Int = 3): DataFrame =
    Similarity.ivfPqTopKOf(vectors, queries, k)

  def pqCodebooks(quantized: DataFrame): Seq[Seq[Array[Long]]] =
    Similarity.pqCodebooks(quantized)

  /** Top-k TF-IDF keywords per document over a (doc_id, text) frame —
    * exact integer tf·idf_e6 scores, term-ascending tie-break. Emits
    * (doc_id, rk, term, tf, df, idf_e6, score). Registry twin:
    * `kw1_tfidf_keywords` (oracle-checked). */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame =
    TextAnalysis.tfidfKeywordsOf(docs, k)

  /** Skip-gram (center, context) pair counts at window 2 over a
    * (doc_id, text) frame — the SGNS/GloVe co-occurrence multiset, both
    * directions, row-local generation (no self-join). Registry twin:
    * `w2v1_skipgram_pairs`. */
  def skipgramPairs(docs: DataFrame, minSupport: Long = 1L): DataFrame =
    TextAnalysis.skipgramPairsOf(docs, minSupport)

  /** Corpus-level BLEU-2 sufficient statistics over a (pair_id, side,
    * text) frame (side 0 = reference, 1 = candidate): multiset-clipped
    * n-gram matches for n ∈ {1,2}, candidate/reference lengths, exact
    * basis-point precisions and the integer-exact geometric mean
    * `bleu2_core_bp`; the brevity-penalty decision is emitted as
    * integers, not folded in. Registry twin: `eval7_bleu2`. */
  def bleu2(pairs: DataFrame): DataFrame =
    graft.ops.Evaluation.bleu2Of(pairs)

  /** One deterministic topic-model M-step over a (doc_id, text) frame:
    * salted-md5 token→topic init, word-topic counts, and each topic's
    * top terms with exact basis-point φ̂(w|k). Registry twin:
    * `lda1_topic_mstep`. */
  def topicMstep(docs: DataFrame, kTopics: Int = 4, topN: Int = 5): DataFrame =
    graft.ops.Clustering.topicMstepOf(docs, kTopics, topN)

  /** Per-language keyness feature selection over a (doc_id, lang, text)
    * frame: each language's top terms by a·pmi_e6 (the observed-cell
    * log-likelihood score), positive associations only. Registry twin:
    * `fs1_term_keyness`. */
  def keynessTerms(docs: DataFrame, topN: Int = 5): DataFrame =
    graft.ops.Curation.keynessTermsOf(docs, topN)

  /** Multi-source BFS over a directed (src, dst) edge frame from a
    * (node) seed frame: every node within `maxDepth` hops with its exact
    * hop distance — the reachability/blast-radius primitive. Frontier
    * joins only (never visited×edges). Registry twin:
    * `bfs1_seed_distance`. */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, maxDepth: Int = 3): DataFrame =
    graft.ops.Graph.bfsLevelsOf(edges, seeds, maxDepth)

  /** Personalized PageRank from a (node) seed frame over a directed
    * (src, dst) edge frame — pr1's exact-integer power iteration with
    * teleport restricted to the seeds; unreached nodes are dropped.
    * Registry twin: `ppr1_personalized_pagerank`. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 3): DataFrame =
    graft.ops.Graph.personalizedPageRankOf(edges, seeds, iters)

  /** Stupid-backoff trigram scoring (Brants et al. 2007) of `test`
    * documents under a model counted from `train` (both (doc_id, text)):
    * per doc the trigram count, per-tier backoff profile and mean NLL in
    * e6 micro-nats — the held-out-domain fit signal. Registry twin:
    * `t25_stupid_backoff`. */
  def stupidBackoff(train: DataFrame, test: DataFrame): DataFrame =
    graft.ops.Selection.stupidBackoffOf(train, test)

  /** FORCAST readability per (doc_id, text) document — the
    * readability formula designed for non-prose text (no sentence
    * count): word/monosyllable/syllable counts plus the grade and
    * syllables-per-word in exact e3 fixed point. Registry twin:
    * `t26_forcast_readability`. */
  def forcastReadability(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.forcastReadabilityOf(docs)

  /** Asymmetric shingle-containment pairs over a (doc_id, text) frame:
    * unordered pairs whose containment |A∩B|/|A| (either direction,
    * basis points) reaches `minBp` — catches near-subset/quote overlap
    * that symmetric Jaccard misses. Candidates come off the
    * shingle-equality self-join under the stop-shingle DF cap (no
    * all-pairs surface). Registry twin: `d20_containment`. */
  def containmentPairs(docs: DataFrame, minBp: Long = 8000L): DataFrame =
    graft.ops.Dedup.containmentPairsOf(docs, minBp)

  /** First/last-touch conversion attribution over an events frame
    * (user_id, event_id, ts, event_type, value): per-channel conversion
    * counts and exact purchase cents under both models; purchases with
    * no prior touch since the user's previous purchase attribute to
    * `direct`. Registry twin: `e11_attribution`. */
  def attribution(events: DataFrame): DataFrame =
    graft.ops.Events.attributionOf(events)

  /** Tokenizer fertility per language under a supplied BPE merge list:
    * per lang, word/token/char counts, fertility (tokens per word, e3)
    * and continuation-token share (bp) — the multilingual tokenizer-
    * equity audit. Registry twin (corpus-learned merges):
    * `tok4_fertility`. */
  def bpeFertilityByLang(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    graft.ops.Selection.bpeFertilityByLangOf(docs, merges)

  /** Data-constrained, quality-weighted repetition allocation
    * (Muennighoff et al. 2023 shape): greedy (source, epoch≤cap) units
    * by type-token-ratio-weighted halving utility against a fixed token
    * budget. Registry twin: `mix4_data_constrained`. */
  def dataConstrainedAlloc(docs: DataFrame, epochCap: Int = 4): DataFrame =
    graft.ops.Selection.dataConstrainedAllocOf(docs, epochCap)

  /** Top-k bursty terms by the variance-to-mean dispersion of per-doc
    * counts (VMR, e6) over a (doc_id, text) frame — boilerplate/spam
    * screening beside TF-IDF. Registry twin: `t27_burstiness`. */
  def termBurstiness(docs: DataFrame, minDf: Long = 50L, k: Int = 20): DataFrame =
    graft.ops.TextAnalysis.burstinessOf(docs, minDf, k)

  /** RFM segmentation over an events frame: exact quartiles of recency/
    * frequency/monetary via the distributed global-rank idiom (no
    * single-partition ntile), emitted as the 4×4×4 segment table.
    * Registry twin: `e12_rfm`. */
  def rfmSegments(events: DataFrame): DataFrame =
    graft.ops.Events.rfmSegmentsOf(events)

  /** t-closeness audit: per quasi-identifier group, the total-variation
    * distance (e6) between the group's sensitive-value distribution and
    * the corpus-wide one, with the t ≤ 0.2 flag — completes the
    * k-anonymity / l-diversity / t-closeness release trio. Exact
    * integers over the common denominator (DECIMAL(38,0) products).
    * Registry twin: `priv5_t_closeness`. */
  def tClosenessAudit(rows: DataFrame, qiCols: Seq[String], sensCol: String): DataFrame =
    graft.ops.Curation.tClosenessOf(rows, qiCols, sensCol)

  /** Top principal direction of a (vec_id, embedding) corpus by
    * exact-integer matrix-free power iteration (64 rows: dim, v_e3) —
    * the all-but-the-top / whitening primitive. Registry twin:
    * `emb5_power_iteration`. */
  def topPrincipalDirection(vectors: DataFrame, iters: Int = 3): DataFrame =
    graft.ops.Similarity.topPrincipalOf(vectors, iters)

  /** Per-label energy share (e6) of the corpus's dominant common
    * direction — the all-but-the-top diagnostic over a
    * (vec_id, embedding, label) frame. Registry twin:
    * `emb6_common_energy`. */
  def commonDirectionEnergy(vectors: DataFrame): DataFrame =
    graft.ops.Similarity.commonEnergyOf(vectors)

  /** Heaps'-law vocabulary-growth exponent β (e6) from the half-vs-full
    * two-point estimate over a (doc_id, text) frame — tokenizer-sizing /
    * boilerplate-health audit. Registry twin: `voc3_heaps_law`. */
  def heapsLaw(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.heapsLawOf(docs)

  /** Per-node local clustering coefficient (e6) over an undirected
    * (a, b) edge frame, via the degree-oriented triangle machinery.
    * Registry twin: `lcc1_clustering_coefficient`. */
  def clusteringCoefficients(edges: DataFrame): DataFrame =
    graft.ops.Graph.clusteringCoefficientsOf(edges)

  /** Severity-tiered blocklist policy over a (source, text) frame:
    * per-source block/review/pass counts, tier hit volumes and the
    * weighted score. Exact whole-token matching. Registry twin:
    * `tox2_tiered_blocklist`. */
  def tieredBlocklistStats(docs: DataFrame, severe: Seq[String],
      mild: Seq[String]): DataFrame =
    graft.ops.Evaluation.tieredBlocklistStatsOf(docs, severe, mild)

  /** Exact class-balanced downsampling summary: every class cut to the
    * minority class's size by deterministic salted-md5 rank; the
    * per-class kept-id sum proves the kept SET. Registry twin:
    * `samp5_class_balance`. */
  def classBalancedSample(rows: DataFrame, classCol: String, idCol: String): DataFrame =
    graft.ops.ScaleOps.classBalancedSampleOf(rows, classCol, idCol)

  /** CER cleaning-damage audit over a (source, text) frame: per source
    * the micro-averaged character error rate (bp) between each doc and
    * its stopword-cleaned form via true Levenshtein distance, worst-doc
    * CER and the >10%-damaged count. Registry twin:
    * `eval8_cleaning_cer`. */
  def cleaningDamage(docs: DataFrame,
      stopwords: Seq[String] = Seq("a", "the")): DataFrame =
    graft.ops.Evaluation.cleaningDamageOf(docs, stopwords)

  /** Krippendorff's alpha (binary, two raters) over an (a, b) rating
    * frame: pooled value counts, observed/expected disagreement (e6)
    * and alpha (e6, NULL when undefined). Registry twin:
    * `eval9_krippendorff_alpha`. */
  def krippendorffAlpha(rated: DataFrame): DataFrame =
    graft.ops.Evaluation.krippendorffAlphaOf(rated)

  /** Exact closed-form per-group least-squares fit of `yCol` on `xCol`
    * (integer columns): n, sums, slope/intercept/R² in e6 from integer
    * sufficient statistics — the per-feed structure probe (NULL on
    * degenerate groups). Registry twin: `dq7_least_squares_fit`. */
  def leastSquaresFit(pts: DataFrame, groupCol: String,
      xCol: String, yCol: String): DataFrame =
    graft.ops.Evaluation.leastSquaresFitOf(pts, groupCol, xCol, yCol)

  /** Best-keeper selection over a (cluster_id, doc_id, q) dup-cluster
    * member frame: per cluster the argmax-quality keeper (min doc_id on
    * ties) plus eviction accounting — one deterministic struct-max
    * aggregate, no window/sort. Registry twin: `d22_best_keeper`. */
  def bestKeepers(members: DataFrame): DataFrame =
    graft.ops.Dedup.bestKeeperOf(members)

  /** Dedup health report over a (doc_id, cluster_id) cluster frame:
    * cluster-size histogram with per-size doc/eviction counts and each
    * size's share of the evictable mass (bp) — the release-over-release
    * dedup dashboard row. Registry twin: `d23_dedup_health`. */
  def dedupHealth(clusters: DataFrame): DataFrame =
    graft.ops.Dedup.dedupHealthOf(clusters)

  /** Neyman allocation of a fixed sample `budget` across strata
    * (n_h ∝ N_h·σ_h over `yCol`, largest-remainder rounding so the
    * integer allocations sum EXACTLY to the budget; proportional
    * fallback when every stratum is constant). Registry twin:
    * `samp6_neyman_alloc`. */
  def neymanAllocation(rows: DataFrame, stratumCol: String, yCol: String,
      budget: Long): DataFrame =
    graft.ops.ScaleOps.neymanAllocationOf(rows, stratumCol, yCol, budget)

  /** WordPiece greedy longest-match encoding profile over a `wordCol`
    * string column: appends `n_pieces` and `is_unk` via the native
    * codegen'd `graft_wordpiece` expression (BERT's greedy rule with
    * the all-or-nothing [UNK]). Registry twin: `tok5_wordpiece`. */
  /** Goodman–Kruskal gamma rank concordance between two integer score
    * columns of an (x, y) frame, over fixed-width value-domain buckets
    * (`xBucket`/`yBucket`): concordant/discordant pair counts and
    * gamma (e6, NULL when no comparable pairs). Registry twin:
    * `eval10_gamma_concordance`. */
  def gammaConcordance(scored: DataFrame, xBucket: Long, yBucket: Long): DataFrame =
    graft.ops.Evaluation.gammaConcordanceOf(scored, xBucket, yBucket)

  /** Monroe "Fightin' Words" log-odds keyness with an informative
    * Dirichlet prior over a text frame split by the `isA` predicate:
    * both tails of z-scored distinctive words (`topN` each). Registry
    * twin: `fs2_log_odds_keyness`. */
  def logOddsKeyness(docs: DataFrame, isA: Column, topN: Int = 10): DataFrame =
    graft.ops.Curation.logOddsKeynessOf(docs, isA, topN)

  /** Cross-source vocabulary-overlap matrix over a (source, text)
    * frame: per unordered source pair the type counts, intersection,
    * Jaccard and directional containment (bp) — the lexical-redundancy
    * screen behind mixture design. Registry twin:
    * `voc4_source_overlap`. */
  def sourceVocabOverlap(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.sourceVocabOverlapOf(docs)

  /** Exact lower weighted median of `valCol` per `keyCol`, weighted by
    * integer `wCol`: the smallest value whose cumulative weight
    * reaches half the group total (integer 2·cw ≥ W form); the window
    * runs on the value-level frame. Registry twin:
    * `w7_weighted_median`. */
  def weightedMedian(rows: DataFrame, keyCol: String, valCol: String,
      wCol: String): DataFrame =
    graft.ops.Events.weightedMedianOf(rows, keyCol, valCol, wCol)

  /** Inter-event gap dispersion per key: exact mean gap (µs) and
    * squared coefficient of variation (e6; Poisson = 10⁶, bursty ≫,
    * heartbeat ≪) from integer sufficient statistics; NULL on keys
    * without gaps. Registry twin: `e14_gap_dispersion`. */
  def gapDispersion(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String = "event_id"): DataFrame =
    graft.ops.Events.gapDispersionOf(events, keyCol, tsCol, tieCol)

  /** Zone-map skipping audit of a two-key frame: for 32 equal-range
    * files under linear / z-order / Hilbert layouts, the mean file
    * count a single-column point probe touches on each dimension —
    * the quantified case for curve layouts when both columns carry
    * predicates. Registry twin: `zo3_skipping_audit`. */
  def skippingAudit(rows: DataFrame, xCol: String, yCol: String): DataFrame =
    graft.ops.ScaleOps.skippingAuditOf(rows, xCol, yCol)

  /** Budget-constrained corpus selection over a (doc_id, source, q,
    * toks) frame: keep the maximal (quality DESC, doc_id) prefix whose
    * token mass fits `budget`, via one distributed prefix-sum pass;
    * emits per-source before/after counts and the kept-id checksum.
    * Registry twin: `sel2_budget_select`. */
  def budgetSelect(docs: DataFrame, budget: Long): DataFrame =
    graft.ops.Selection.budgetSelectOf(docs, budget)

  /** int8 quantization-distortion audit of a (vec_id, embedding,
    * label) frame: per label + overall rollup, the exact relative
    * squared reconstruction error (e6) of sim5's symmetric int8
    * scheme and the per-vector worst case — the vector-space
    * complement of ranking-recall checks. Registry twin:
    * `emb8_quant_distortion`. */
  def quantDistortion(vectors: DataFrame): DataFrame =
    graft.ops.Similarity.quantDistortionOf(vectors)

  /** Truncated rank-biased overlap (p = 0.9, depth 3) between two
    * (q_id, cand_id, rk) rankings: per query the order-aware,
    * top-weighted agreement in e9 (271 000 000 = identical at this
    * truncation) plus the shared-candidate count — the companion to
    * set-recall for ANN-vs-exact fidelity. Registry twin:
    * `sim11_rbo`. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame): DataFrame =
    graft.ops.Similarity.rboOf(a, b)

  /** Kish effective sample size of a (source, w) weighted frame: per
    * source plus an overall NULL-source rollup, ESS = (Σw)²/Σw² in e3
    * and its share of n in bp — the concentration diagnostic run
    * before trusting importance-reweighted estimates. Registry twin:
    * `samp7_ess`. */
  def ess(weighted: DataFrame): DataFrame =
    graft.ops.ScaleOps.essOf(weighted)

  /** Fellegi–Sunter probabilistic record linkage over an
    * (id, block, f1, f2, f3) record frame: per-field likelihood ratios
    * with m = 0.95 and u estimated from the data's own value-frequency
    * tables, discretized once as an exact e12 integer; md5-capped
    * blocking. At the default `minScoreE6 = 0` the pair cut is an EXACT
    * integer cross-multiplied ratio-product comparison (cross-engine
    * set-stable — no transcendental in the gate); the e6-rounded ln
    * weights are display columns. A nonzero `minScoreE6` gates on the
    * rounded score sum and can flip a boundary pair on a 1-ulp libm
    * difference — for a custom threshold with the exact-set guarantee
    * use the rational overload below. Registry twin:
    * `d24_record_linkage`. */
  def recordLinkage(recs: DataFrame, cap: Int = 40,
      minScoreE6: Long = 0L): DataFrame =
    graft.ops.Dedup.recordLinkageOf(recs, cap, minScoreE6)

  /** Record linkage with an EXACT rational likelihood-ratio threshold
    * (round-16): keeps a pair iff its exact integer LR product satisfies
    * Π m_f / Π u_f ≥ `minLrNum`/`minLrDen`, cross-multiplied in
    * DECIMAL(38,0) — engine-independent set membership for ANY caller
    * threshold, no ln() in the gate. For a ln-scale threshold θ pass a
    * rational near e^θ (e.g. θ = 2 → 739/100); the rational IS the set
    * definition. `(1, 1)` reproduces the default LR ≥ 1 cut exactly. */
  def recordLinkage(recs: DataFrame, cap: Int,
      minLrNum: Long, minLrDen: Long): DataFrame =
    graft.ops.Dedup.recordLinkageLrOf(recs, cap, minLrNum, minLrDen)

  /** WordPiece vocabulary-utilization audit over a distinct-`word`
    * frame: per vocabulary piece (plus the [UNK] sink) the distinct
    * words touching it and its total firing count, dead pieces emitted
    * with `is_dead` — the tokenizer-health report behind vocab
    * shrinking. Registry twin: `tok6_piece_usage`. */
  def wordPieceUsage(words: DataFrame): DataFrame =
    graft.ops.Selection.pieceUsageOf(words)

  /** Global transitivity (clustering coefficient) of an undirected
    * (a, b) edge frame: C = 3·triangles/wedges as one exact e6
    * division; NULL on wedge-free graphs. The wedge-weighted
    * complement of the per-node [[clusteringCoefficients]]. Registry
    * twin: `gr3_transitivity`. */
  def transitivity(edges: DataFrame): DataFrame =
    graft.ops.Graph.transitivityOf(edges)

  /** Newman degree assortativity of an undirected (a, b) edge frame:
    * the Pearson correlation of end-point degrees over both stub
    * directions, WHOLLY exact (permutation symmetry makes both
    * denominators the same integer — no sqrt); sign-split e6, NULL on
    * regular graphs. Registry twin: `gr2_assortativity`. */
  def assortativity(edges: DataFrame): DataFrame =
    graft.ops.Graph.assortativityOf(edges)

  /** Simpson's-paradox audit of the x→y association across strata:
    * per-stratum exact least-squares slopes (e6) with a `reversed`
    * flag vs the pooled slope, plus the pooled NULL-stratum row folded
    * from the same one-scan sufficient statistics. Registry twin:
    * `dq8_simpson_audit`. */
  def simpsonAudit(pts: DataFrame, groupCol: String,
      xCol: String, yCol: String): DataFrame =
    graft.ops.Evaluation.simpsonAuditOf(pts, groupCol, xCol, yCol)

  /** Gopher/MassiveText repetition-quality audit per source: mean
    * top-2-gram and duplicate-3-gram character-mass shares (exact e6)
    * plus how many documents each source loses at the published-style
    * thresholds (rep2 > 0.20, dup3 > 0.15). Input needs (doc_id, text,
    * `srcCol`). Registry twin: `dq9_repetition_audit`. */
  def repetitionAudit(docs: DataFrame, srcCol: String = "source"): DataFrame =
    graft.ops.Evaluation.repetitionAuditOf(docs, srcCol)

  /** Calinski–Harabasz pseudo-F of a cluster assignment frame
    * (cid, q, nrm — e.g. from the k-means path): per-cluster exact
    * within-scatter rows (e3) plus an overall NULL-cluster row with
    * CH_e6 = B·(n−k)·10⁶ div (W·(k−1)); NULL on degenerate
    * partitions. Registry twin: `cl4_calinski_harabasz`. */
  def calinskiHarabasz(assigned: DataFrame): DataFrame =
    graft.ops.Clustering.calinskiHarabaszOf(assigned)

  /** Spearman's ρ (tie-averaged ranks) between the integer columns
    * `x` and `y` of a scored frame — distributed global ranks via the
    * prefix-sum idiom, exact integer sufficient statistics, one
    * e6-rounded transcendental; NULL when a signal is constant.
    * Registry twin: `eval12_spearman`. */
  def spearman(scored: DataFrame): DataFrame =
    graft.ops.Evaluation.spearmanOf(scored)

  /** Cumulative gains / lift at k over a scored frame with columns
    * (`labelCol` ∈ {0,1}, `scoreCol`, `tie`): positives found in the
    * top-k by descending score (ties broken by `tie`) and the exact
    * integer lift over random in basis points. Distributed global rank
    * via the prefix-sum idiom — no single-reducer window. Registry
    * twin: `eval13_lift_at_k`. */
  def liftAtK(scored: DataFrame, labelCol: String, scoreCol: String,
      ks: Seq[Int]): DataFrame =
    graft.ops.SentimentNb.liftAtKOf(scored, labelCol, scoreCol, ks)

  /** Average precision (step-interpolated PR-AUC) over a scored frame —
    * the imbalance-robust companion to ROC-AUC: (n_pos, n, ap_e6), each
    * curve term an exact integral e6 quotient. Registry twin:
    * `eval14_average_precision`. */
  def averagePrecision(scored: DataFrame, labelCol: String,
      scoreCol: String): DataFrame =
    graft.ops.SentimentNb.averagePrecisionOf(scored, labelCol, scoreCol)

  /** Jensen–Shannon divergence matrix over a (source, text) frame:
    * per unordered source pair the unigram-distribution JSD in nats
    * (e9, bounded by ln 2), plus union/common type counts — the
    * distributional redundancy screen complementing the type-set
    * overlap of [[sourceVocabOverlap]]. Registry twin:
    * `voc5_source_jsd`. */
  def sourceJsd(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.sourceJsdOf(docs)

  /** Time-weighted average (TWAP) of a stepwise-held signal per key:
    * each event's cents value holds until the key's next event;
    * emits (key, n_events, span_us, twap_c) with a sign-split exact
    * division and NULL on degenerate spans. `tieCol` breaks equal
    * timestamps to a total order. Registry twin: `e13_twap`. */
  def twap(events: DataFrame, keyCol: String, tsCol: String,
      valueCents: Column, tieCol: String = "event_id"): DataFrame =
    graft.ops.Events.twapOf(events, keyCol, tsCol, valueCents, tieCol)

  /** Newman modularity of a node partition over an undirected (a, b)
    * edge frame: per community the exact (n_nodes, e_in, d_sum)
    * evidence and q_e9 share, plus an overall NULL-community rollup
    * row with the exact Q = Σ(4m·e_c − d_c²)/(4m²) (sign-split e9;
    * NULL on an empty graph). `communities` is a (node, c) frame;
    * unlabeled nodes are outside the audit. Registry twin:
    * `gr1_modularity`. */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame =
    graft.ops.Graph.modularityOf(edges, communities)

  /** Isotropy / anisotropy audit of a (vec_id, embedding, label) frame
    * via the exact sum-vector identity (all-pairs mean dot with ONE
    * scan, no pairwise join): per label plus a NULL-label overall row,
    * the mean-vector energy share and the mean cross-pair dot relative
    * to the mean norm, both e6 integers. Registry twin:
    * `emb7_isotropy`. */
  def isotropyAudit(vectors: DataFrame): DataFrame =
    graft.ops.Similarity.isotropyOf(vectors)

  /** McNemar's paired-classifier significance test over a frame with
    * 0/1 correctness columns `a_ok` / `b_ok` (one row per shared test
    * item): the 2×2 agreement cells, and χ² in e6 with and without the
    * Edwards continuity correction (NULL when no discordant pairs).
    * Registry twin: `eval11_mcnemar`. */
  def mcnemarTest(paired: DataFrame): DataFrame =
    graft.ops.Evaluation.mcnemarOf(paired)

  def wordPieceProfile(words: DataFrame, wordCol: String = "word"): DataFrame = {
    graft.functions.GraftFunctions.register(words.sparkSession)
    words
      .withColumn("wp_packed", org.apache.spark.sql.functions.expr(s"graft_wordpiece($wordCol)"))
      .withColumn("n_pieces", org.apache.spark.sql.functions.expr("wp_packed div 2"))
      .withColumn("is_unk", org.apache.spark.sql.functions.expr("wp_packed % 2"))
      .drop("wp_packed")
  }
}
