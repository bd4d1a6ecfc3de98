package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** [EXT] Deduplication operators for large-scale training-data pipelines
  * (SURVEY §7.8): exact, MinHash+LSH, SimHash, blocked n-gram Jaccard, and
  * embedding-cosine near-dup. Not derived from the reference.
  *
  * Every hash is built from `md5` (identical output in Spark and DuckDB) so
  * the whole pipeline is oracle-checkable: 60-bit integer hashes come from
  * the first 15 md5 hex chars, minhashes compare md5 strings
  * lexicographically, and all similarity predicates are exact-integer
  * cross-multiplications (no float tolerance anywhere).
  *
  * Scale design: everything is hash-partitioned aggregation + equi-joins on
  * hash/band keys — LSH banding turns the O(n²) pair space into same-bucket
  * joins; blocked Jaccard bounds pairwise work to within (lang, source)
  * blocks; embedding near-dup samples or LSH-buckets before the zip-dot.
  *
  * The fixture corpus has no duplicates, so a deterministic dup-injection
  * (exact copies for doc_id % 7 = 0, first-word-dropped near-copies for
  * doc_id % 11 = 0) gives the operators something to find — reproducible in
  * SQL, so the oracle sees the same corpus.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Portable 60-bit hash: first 15 md5 hex chars as integer. */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  private def h60Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  // ---- corpus with injected duplicates ----

  /** The fixture's duplicate injection over ANY (doc_id, text) base
    * frame — factored so the streaming twins can derive each
    * micro-batch's corpus members locally (a base row and its shells
    * always land in the same batch, so batch-wise injection ≡ corpus
    * filtering — the st32 additivity argument). */
  private[graft] def injectShells(base: DataFrame): DataFrame =
    injectShellsKeeping(base, Nil)

  /** Shell injection preserving per-row metadata columns — shells INHERIT
    * their base row's values structurally. This is the coherent-at-any-id
    * way to give shells metadata: recovering it later via doc_id % 1e6
    * aliases to the WRONG row whenever base ids exceed 1e6 (e.g. a
    * GenScale'd corpus), and a batch-local join on the alias silently
    * drops rows whose alias landed in another micro-batch (the round-15
    * sf1 st32 finding). */
  private[graft] def injectShellsKeeping(base: DataFrame, keep: Seq[String]): DataFrame = {
    val ident = col("doc_id") +: col("text") +: keep.map(col)
    val shell7 = (col("doc_id") + 1000000).as("doc_id") +: col("text") +: keep.map(col)
    val shell11 = (col("doc_id") + 2000000).as("doc_id") +:
      expr("substring(text, instr(text, ' ') + 1)").as("text") +: keep.map(col)
    base.select(ident: _*)
      .unionAll(base.filter(col("doc_id") % 7 === 0).select(shell7: _*))
      .unionAll(base.filter(col("doc_id") % 11 === 0).select(shell11: _*))
  }

  private[graft] def corpus(s: SparkSession, d: String): DataFrame =
    injectShells(Tables.documents(s, d).select(col("doc_id"), col("text")))

  private[ops] val corpusCte: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, substr(text, strpos(text, ' ') + 1)
      |  FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  // ---- D1: exact dedup (hash-groupBy) ----

  /** Exact-duplicate groups of any (doc_id, text) frame — the library
    * entry point ([[graft.api.GraftApi.exactDupGroups]]). */
  private[graft] def exactDupGroupsOf(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .filter(col("n_copies") > 1)

  val d1: Q = (s, d) => exactDupGroupsOf(corpus(s, d)).orderBy("text_hash")
  val d1Sql: String =
    s"""WITH $corpusCte
       |SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_copies,
       |       min(doc_id) AS keeper
       |FROM corpus GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin

  // ---- word 3-gram shingles (distinct per doc) ----

  /** A row's word 3-gram shingles as ONE array expression over `text`
    * (in text order, repeats kept; a <3-word text is its own single
    * shingle) — the shingle definition behind [[shinglesOf]]. The
    * signature path ([[sigSetsOf]]) computes the same shingles natively
    * in [[graft.functions.ShingleH60]]; DedupSimSpec pins that the two
    * definitions give the same per-doc shingle-hash set on generated
    * edge-case docs, so the <3-word fallback can't drift between them.
    *
    * Construction is arrays_zip over three SHIFTED SLICES of the split
    * array, not `transform(sequence, i -> slice(split(text), …))`: a
    * lambda that mentions `split(text)` re-evaluates the split PER
    * ELEMENT (interpreted HOFs have no common-subexpression hoisting),
    * making shingling O(tokens²) per doc — this is the hot loop of the
    * whole dedup family. The zip form evaluates the split a constant
    * number of times per row and the lambda touches only its struct
    * argument. Measured at sf1 (quiet host, stash A/B): d2 2.71 → 0.98 s
    * warm, d3 9.71 → 5.88 s, d6 6.26 → 5.54 s. */
  private val shingleArr: String =
    "CASE WHEN size(split(text, ' ')) >= 3 " +
      "THEN transform(arrays_zip(" +
      "slice(split(text, ' '), 1, size(split(text, ' ')) - 2), " +
      "slice(split(text, ' '), 2, size(split(text, ' ')) - 2), " +
      "slice(split(text, ' '), 3, size(split(text, ' ')) - 2)), " +
      "s -> concat(s['0'], ' ', s['1'], ' ', s['2'])) " +
      "ELSE array(text) END"

  /** Word 3-gram shingles (distinct per doc) of any (doc_id, text) frame,
    * one row per (doc_id, shingle) — for the shingle-keyed joins and
    * document-frequency aggregates (d6, d9, d16, d20, t23, t24). The MinHash
    * signature path does not explode: see [[sigSetsOf]]. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(shingleArr)).as("shingle")).distinct()

  private[graft] def shinglesCteBody(cteName: String, src: String): String =
    s"""$cteName AS (
       |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(str_split(text, ' ')) >= 3
       |    THEN [array_to_string((str_split(text, ' '))[i+1:i+3], ' ')
       |          for i in range(len(str_split(text, ' ')) - 2)]
       |    ELSE [text] END) AS shingle
       |  FROM $src)""".stripMargin

  private val shinglesCte: String =
    s"""$corpusCte,
       |${shinglesCteBody("shingles", "corpus")}""".stripMargin

  // ---- D2: MinHash signatures (4 universal-hash permutations) ----

  /** Textbook universal-hash MinHash: ONE md5 per shingle, quantized to a
    * 28-bit integer h, and each "permutation" k is the affine map
    * (A_k·h + B_k) mod P over that integer. Versus seeded-md5-per-
    * permutation (round ≤3) this computes 4× fewer string hashes on the
    * exploded shingle frame — the hot loop of the whole dedup family —
    * and carries LONG signatures / band keys through the shuffle instead
    * of 32-char strings. P > 2^28 is prime, so h never wraps and each map
    * is a bijection on the h-universe; A_k·h + B_k ≤ 2^59 — no overflow
    * under ANSI mode. */
  private[graft] val MhP = 536870909L // prime, > 2^28
  private[graft] val MhA = Seq(1103515245L, 1299709L, 15485863L, 32452843L)
  private[graft] val MhB = Seq(12345L, 67890L, 424243L, 9999991L)

  /** The per-doc signature frame (doc_id, hs, mh0..mh3) of any
    * (doc_id, text) frame: `hs` = the 60-bit md5 prefixes of the doc's
    * DISTINCT shingles (the exact-Jaccard verify set), mh_k = min over
    * those shingles of (A_k·h + B_k) mod P, h = the 28-bit md5 prefix.
    * ONE definition behind [[minhashOf]], [[minhashBandKeysOf]],
    * [[shSetsOf]], near-dup pairs and the incremental index.
    *
    * A pure per-row projection of two native, codegen'd expressions — no
    * explode, distinct, aggregate or higher-order function:
    * `graft_shingle_h60` ([[graft.functions.ShingleH60]]) scans the text's
    * bytes once and md5s each distinct shingle once into `hs`, and each
    * mh_k is a `graft_minhash_affine` ([[graft.functions.MinHashAffine]])
    * over `hs` (h is the top 28 bits of the 60-bit prefix). All four mins
    * read `hs` from the projection below, so CollapseProject keeps the
    * hashing in one place instead of copying it into each of them
    * (PlanShapeSpec pins this). A NULL text has no shingles: hs = [] and
    * NULL mins, as the oracle's grouped min over that doc's NULL-hash row
    * gives. CONTRACT: `doc_id` is unique per row — rows sharing a doc_id
    * are not merged into one signature. */
  private[graft] def sigSetsOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), expr("graft_shingle_h60(text)").as("hs"))
      .select(col("doc_id") +: col("hs") +: (0 until 4).map(k => expr(
        s"graft_minhash_affine(hs, ${MhA(k)}L, ${MhB(k)}L, ${MhP}L)").as(s"mh$k")): _*)
  }

  /** MinHash signatures of any (doc_id, text) frame — the library entry
    * point ([[graft.api.GraftApi.minhashSignatures]]). */
  private[graft] def minhashOf(docs: DataFrame): DataFrame =
    sigSetsOf(docs).select("doc_id", "mh0", "mh1", "mh2", "mh3")

  private def minhash(s: SparkSession, d: String): DataFrame =
    minhashOf(corpus(s, d))

  private[graft] val minhashCte: String =
    s"""$shinglesCte,
       |hs AS (
       |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h
       |  FROM shingles),
       |minhash AS (
       |  SELECT doc_id,
       |         ${(0 until 4).map(k => s"min((h * ${MhA(k)} + ${MhB(k)}) % $MhP) AS mh$k").mkString(",\n         ")}
       |  FROM hs GROUP BY doc_id)""".stripMargin

  /** Per-row MinHash band keys: two rows per doc, (doc_id, "bi:bandKey").
    * [[sigSetsOf]] is a pure projection, so the same expression drives
    * batch band joins and STATELESS streaming band assignment
    * (graft.streaming.Streams.st12); the library entry point is
    * [[graft.api.GraftApi.minhashBandKeys]]. */
  private[graft] def minhashBandKeysOf(docs: DataFrame): DataFrame =
    sigSetsOf(docs).select(col("doc_id"), explode(array(
      concat_ws(":", lit(0), col("mh0") * MhP + col("mh1")),
      concat_ws(":", lit(1), col("mh2") * MhP + col("mh3")))).as("bucket"))

  /** The band-join candidate pairs (pre-verify, distinct) as SQL — the
    * batch equivalence oracle for the STREAMING detector
    * (graft.streaming.Streams.st12). */
  private[graft] val bandCandidatePairsSql: String =
    s"""WITH $minhashCte,
       |bands AS (
       |  SELECT doc_id, mh0 * $MhP + mh1 AS band, 0 AS bi FROM minhash
       |  UNION ALL
       |  SELECT doc_id, mh2 * $MhP + mh3 AS band, 1 AS bi FROM minhash)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bi = b.bi AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  val d2: Q = (s, d) => minhash(s, d).orderBy("doc_id")
  val d2Sql: String =
    s"""WITH $minhashCte
       |SELECT doc_id, mh0, mh1, mh2, mh3 FROM minhash ORDER BY doc_id""".stripMargin

  // ---- D3: LSH banding → candidate pairs → exact-Jaccard verify ----

  /** Banded-LSH candidate pairs of any (doc_id, text) frame, verified by
    * exact Jaccard ≥ `minJacBp` basis points (integer cross-multiplication,
    * no float tolerance) — the library entry point behind d3/d8 and
    * [[graft.api.GraftApi.nearDupPairs]]. Unsorted. */
  /** Skew cap for the MinHash band join — same magnitude and rationale as
    * d5's [[MaxBucket]] and d11's [[D11MaxBucket]]: at web scale one hot
    * band (boilerplate docs sharing a minhash) otherwise produces O(bn²)
    * candidate pairs inside the self-join. Buckets wider than the cap are
    * dropped BEFORE the join, bounding candidates per band to
    * cap·(cap−1)/2 — linear in n overall. A true near-dup set that wide
    * is exact-dup territory (d1's job) or a super-cluster handled by a
    * separate pass, standard LSH practice. Deterministic, so the oracle
    * mirrors it verbatim. */
  private[graft] val D3MaxBand = 50

  private[graft] def nearDupPairsOf(docs: DataFrame, minJacBp: Int = 8000): DataFrame = {
    // Shape: the signature frame ([[sigSetsOf]]) is a per-row projection
    // (the native shingle-hash kernel, one md5 per distinct shingle, one
    // native min per permutation), so the ONLY exchanges are the band
    // exchange and the candidate-pair aggregate:
    //   - band rows come from a 2-element explode, hs riding along;
    //   - the hot-band cap is a COUNT WINDOW over the band exchange the
    //     self-join needs anyway (same ≤ D3MaxBand groups; one shuffle
    //     instead of a groupBy pass + join-back), and the self-join's two
    //     sides are the identical subtree, which AQE stage reuse
    //     materializes once.
    // band key = mh_i·P + mh_j packs the 2-signature band into ONE long
    // (mh < P ⇒ no collisions across distinct pairs, max < P² ≈ 2^58).
    // Verify stays exact-integer over the 60-bit md5-prefix SETS
    // (PRECONDITION: `hs` is a set per doc — the kernel drops repeated
    // shingles, and doc_id is unique per row); every band row of a doc
    // carries the identical array, so first(hs) per (id_a, id_b) is
    // well-defined.
    val bands = bandsOfSigs(sigSetsOf(docs), keep = Seq("hs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bi")
    val bounded = bands.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= D3MaxBand).drop("bn")
    val cand = bounded.as("a").join(bounded.as("b"),
        col("a.band") === col("b.band") && col("a.bi") === col("b.bi") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(first(col("a.hs")).as("ha"), first(col("b.hs")).as("hb"))
    cand
      .select(col("id_a"), col("id_b"),
        expr("size(array_intersect(ha, hb))").cast("long").as("inter"),
        (size(col("ha")) + size(col("hb"))).cast("long").as("sz"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("sz") - col("inter")).as("uni"))
      .filter(col("inter") * 10000 >= col("uni") * minJacBp)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        expr("inter * 10000 div uni").as("jac_bp"))
  }

  /** The verified pair set WITHOUT the presentation sort — d8 consumes
    * this (cluster labels don't care about pair order; the global sort is
    * pure overhead there). */
  private[ops] val d3Verified: Q = (s, d) => nearDupPairsOf(corpus(s, d))

  val d3: Q = (s, d) => d3Verified(s, d).orderBy("id_a", "id_b")
  val d3Sql: String =
    s"""WITH $minhashCte,
       |bands AS (
       |  SELECT doc_id, mh0 * $MhP + mh1 AS band, 0 AS bi FROM minhash
       |  UNION ALL
       |  SELECT doc_id, mh2 * $MhP + mh3 AS band, 1 AS bi FROM minhash),
       |bok AS (SELECT band, bi FROM bands GROUP BY band, bi HAVING count(*) <= $D3MaxBand),
       |bb AS (SELECT b.doc_id, b.band, b.bi FROM bands b JOIN bok USING (band, bi)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bb a JOIN bb b
       |    ON a.band = b.band AND a.bi = b.bi AND a.doc_id < b.doc_id),
       |shh AS (SELECT doc_id, ${h60Sql("shingle")} AS sh FROM shingles),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shh GROUP BY doc_id),
       |ints AS (
       |  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM cand c
       |  JOIN shh sa ON sa.doc_id = c.id_a
       |  JOIN shh sb ON sb.doc_id = c.id_b AND sa.sh = sb.sh
       |  GROUP BY c.id_a, c.id_b)
       |SELECT i.id_a, i.id_b, i.inter, (na.n + nb.n - i.inter) AS uni,
       |       i.inter * 10000 // (na.n + nb.n - i.inter) AS jac_bp
       |FROM ints i
       |JOIN sizes na ON na.doc_id = i.id_a
       |JOIN sizes nb ON nb.doc_id = i.id_b
       |WHERE i.inter * 5 >= (na.n + nb.n - i.inter) * 4
       |ORDER BY i.id_a, i.id_b""".stripMargin

  // ---- D4: SimHash signatures (32-bit, md5-derived bit planes) ----
  // 32 bits (one per md5 hex char, set iff char >= '8'): 16 bits is too
  // coarse on a small shared vocabulary — near-all-pairs collide and the
  // candidate set degenerates to O(n²).

  private val SimhashBits = 0 until 32

  private def simhash(s: SparkSession, d: String): DataFrame = {
    val toks = corpus(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val bitCols = SimhashBits.map { j =>
      when(sum(when(substring(md5(col("word")), j + 1, 1) >= "8", 1L).otherwise(-1L)) >= 0, "1")
        .otherwise("0").as(s"b$j")
    }
    toks.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        concat(SimhashBits.map(j => col(s"b$j")): _*).as("simhash"))
  }

  private val simhashCte: String = {
    val bitExprs = SimhashBits.map { j =>
      s"CASE WHEN sum(CASE WHEN substr(md5(word), ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END"
    }
    s"""$corpusCte,
       |toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM corpus),
       |simhash AS (
       |  SELECT doc_id, ${bitExprs.mkString(" ||\n         ")} AS simhash
       |  FROM toks GROUP BY doc_id)""".stripMargin
  }

  val d4: Q = (s, d) => simhash(s, d).orderBy("doc_id")
  val d4Sql: String =
    s"""WITH $simhashCte
       |SELECT doc_id, simhash FROM simhash ORDER BY doc_id""".stripMargin

  // ---- D5: SimHash near-dup pairs (quarter-band blocking + Hamming ≤ 3) ----
  // Scale guards: (1) degenerate band buckets wider than MaxBucket are
  // skipped — on skewed corpora a popular bucket otherwise recreates the
  // O(n²) pair space LSH exists to avoid (standard practice: super-clusters
  // are handled by a separate pass); (2) candidate pairs are DEDUPED before
  // the 32-term Hamming expression runs, not after.

  private val MaxBucket = 50

  /** Shared band-blocked candidate generator over a bit-string signature
    * frame — the ONE place the band/cap/candidate shape (and its persist
    * hygiene) lives; d5's SimHash and mm8's pHash both block through it.
    * Splits `sigCol` into `nBands` contiguous substrings of `bandLen`
    * chars; buckets wider than `cap` are skipped (a popular bucket would
    * recreate the O(n²) pair space banding exists to avoid — standard
    * practice: super-clusters get a separate pass); pairs are DISTINCT-ed
    * before any downstream per-pair verify runs. Returns the materialized
    * (id_a, id_b, sig_a, sig_b) pair frame with id_a < id_b; both
    * intermediate caches are dropped before returning, so library callers
    * never inherit pinned blocks. */
  private[graft] def bandedCandidates(sigs: DataFrame, idCol: String,
      sigCol: String, nBands: Int, bandLen: Int, cap: Int): DataFrame = {
    // persist: the signature frame feeds the nBands-way band union, which
    // in turn feeds the bucket-size filter AND both sides of the candidate
    // join — uncached, the upstream signature aggregation recomputes ~3·nBands×
    val sh = sigs.select(col(idCol).as("bc_id"), col(sigCol).as("bc_sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = (0 until nBands).map(k =>
        sh.select(col("bc_id"), col("bc_sig"),
          substring(col("bc_sig"), k * bandLen + 1, bandLen).as("band"), lit(k).as("bi")))
      .reduce(_ unionAll _)
    val ok = bands.groupBy("band", "bi").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= cap).select("band", "bi")
    val bounded = bands.join(ok, Seq("band", "bi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bounded.as("a").join(bounded.as("b"),
        col("a.band") === col("b.band") && col("a.bi") === col("b.bi") &&
          col("a.bc_id") < col("b.bc_id"))
      .select(col("a.bc_id").as("id_a"), col("b.bc_id").as("id_b"),
        col("a.bc_sig").as("sig_a"), col("b.bc_sig").as("sig_b"))
      .distinct()
    val (out, _) = Pinned.checkpoint(cand) // eager: pins the pairs so the inputs can unpin
    bounded.unpersist()
    sh.unpersist()
    out
  }

  val d5: Q = (s, d) => {
    val cand = bandedCandidates(simhash(s, d), "doc_id", "simhash",
      nBands = 4, bandLen = 8, cap = MaxBucket)
    // native codegen'd Hamming expression (graft.functions.HammingDistance)
    // instead of a 32-term substring-compare chain
    graft.functions.GraftFunctions.register(s)
    cand.select(col("id_a"), col("id_b"), expr("graft_hamming(sig_a, sig_b)").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("id_a", "id_b")
  }
  val d5Sql: String = {
    val ham = SimhashBits.map { j =>
      s"CASE WHEN substr(sig_a, ${j + 1}, 1) <> substr(sig_b, ${j + 1}, 1) THEN 1 ELSE 0 END"
    }.mkString(" + ")
    s"""WITH $simhashCte,
       |halves AS (
       |${(0 until 4).map(k =>
        s"  SELECT doc_id, simhash, substr(simhash, ${k * 8 + 1}, 8) AS half, $k AS hi FROM simhash")
        .mkString("\n  UNION ALL\n")}),
       |ok AS (SELECT half, hi FROM halves GROUP BY half, hi HAVING count(*) <= $MaxBucket),
       |bounded AS (SELECT h.* FROM halves h JOIN ok USING (half, hi)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.simhash AS sig_a, b.simhash AS sig_b
       |  FROM bounded a JOIN bounded b
       |    ON a.half = b.half AND a.hi = b.hi AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT id_a, id_b, CAST($ham AS BIGINT) AS hamming FROM cand)
       |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  // ---- D6: blocked n-gram Jaccard (pairwise within (lang, source) blocks) ----

  /** Document-frequency cap for d6's shingle-equality self-join: a
    * stop-phrase shingle appearing in millions of docs makes one bucket
    * quadratic at 100 TB (the join is "quadratic only per shingle
    * bucket"). Shingles whose DF within a (lang, source) block exceeds
    * the cap are dropped from the REPRESENTATION before the join — they
    * carry no discriminative signal (the standard stop-shingle fix), so
    * both the intersection and the per-doc set sizes use the filtered
    * space, keeping Jaccard internally consistent (identical docs still
    * score 10000). Deterministic; mirrored in the oracle. */
  private[graft] val D6MaxDf = 50

  /** d6's body over ANY (doc_id, text, lang, source) frame — split out so
    * the planted stop-shingle spec can drive it directly. */
  private[graft] def ngramJaccardBlockedOf(docs: DataFrame): DataFrame = {
    // the ONE shared shingle definition (shinglesOf — same as d2/d3/d9, so
    // the <3-word fallback cannot drift), with the (lang, source) block key
    // joined back on doc_id (constant per doc ⇒ per-doc distinct unchanged)
    // Round-16 single-pass shape (the d3/d20 treatment): stop-shingle cap
    // as a count window on the block-key exchange the self-join needs
    // anyway, capped per-doc size as a second count window riding each
    // row, first(n) per pair replacing both size joins — the old shape
    // re-exploded the shingles ~5× (cap groupBy + join-back, two
    // self-join sides, two size joins). Shingle passes 5 → 1; results
    // identical (inner joins ⇒ same pair set; same capped sizes).
    val w = org.apache.spark.sql.expressions.Window
    val sh = shinglesOf(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), h60(col("shingle")).as("sh")) // 8-byte join key (see d3)
      .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
    // scale guard: see D6MaxDf — stop-shingles out before sizes AND the join;
    // intersection counts straight off a shingle-equality self-join within
    // the block: only pairs that actually SHARE a shingle are materialized,
    // instead of enumerating every intra-block doc pair first — at scale the
    // all-pairs frame is quadratic per block while this is quadratic only
    // per shingle bucket (inner joins ⇒ same result set), and the D6MaxDf
    // guard bounds every bucket
    val bounded = sh
      .withColumn("bn", count(lit(1)).over(w.partitionBy("lang", "source", "sh")))
      .filter(col("bn") <= D6MaxDf).drop("bn")
      .withColumn("n", count(lit(1)).over(w.partitionBy("doc_id")))
    bounded.as("sa").join(bounded.as("sb"),
        col("sa.lang") === col("sb.lang") && col("sa.source") === col("sb.source") &&
          col("sa.sh") === col("sb.sh") && col("sa.doc_id") < col("sb.doc_id"))
      .groupBy(col("sa.doc_id").as("id_a"), col("sb.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("sa.n")).as("na"), first(col("sb.n")).as("nb"))
      .select(col("id_a"), col("id_b"),
        expr("inter * 10000 div (na + nb - inter)").as("jac_bp"))
      .filter(col("jac_bp") >= 500)
      .orderBy("id_a", "id_b")
  }

  // ---- D20: shingle containment (asymmetric near-subset detection) ----

  /** Containment similarity C(A,B) = |A∩B|/|A| over the distinct-shingle
    * sets (Broder 1997's second resemblance measure) — the asymmetric
    * companion to d6's Jaccard: a short document quoted wholesale inside
    * a long one scores near-10000 containment while its Jaccard dives
    * with the length ratio, so symmetric dedup never sees it. This is
    * the quote/subset face of near-dup detection (and the shape of
    * train-on-test leakage where the eval doc is EMBEDDED in a train
    * doc). Emits both directions per unordered pair (id_a < id_b;
    * cont_a_bp = share of A's shingles inside B) and keeps pairs where
    * either direction ≥ 8000 — the corpus's suffix-injected near-dups
    * (missing only the leading word) land here at ~10000 even when
    * their Jaccard falls below a symmetric threshold.
    *
    * Scale: same shape as d6 — candidates come off the shingle-equality
    * self-join (only pairs that SHARE a shingle materialize) with the
    * [[D6MaxDf]] stop-shingle cap bounding every bucket; per-doc set
    * sizes use the same capped representation, keeping both directions
    * internally consistent. No all-pairs surface. Library entry point:
    * [[graft.api.GraftApi.containmentPairs]]. */
  private[graft] def containmentPairsOf(docs: DataFrame,
      minBp: Long = 8000L): DataFrame = {
    // Round-16 single-pass shape (the d3/nearDupPairsOf treatment): the
    // old plan re-exploded the shingles ~5× — under the stop-shingle
    // groupBy + join-back, under each self-join side, and TWICE more
    // under the per-doc size joins. Now the stop-shingle cap is a count
    // window on the (sh) exchange the self-join needs anyway, the capped
    // per-doc size is a second count window riding each row, and
    // first(n) per pair replaces both size joins (n is constant per
    // doc). Shingle passes 5 → 1; results identical (inner joins ⇒ same
    // pair set; same capped representation for sizes).
    val w = org.apache.spark.sql.expressions.Window
    val sh = shinglesOf(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), h60(col("shingle")).as("sh"))
    val bounded = sh
      .withColumn("bn", count(lit(1)).over(w.partitionBy("sh")))
      .filter(col("bn") <= D6MaxDf).drop("bn")
      .withColumn("n", count(lit(1)).over(w.partitionBy("doc_id")))
    bounded.as("sa").join(bounded.as("sb"),
        col("sa.sh") === col("sb.sh") && col("sa.doc_id") < col("sb.doc_id"))
      .groupBy(col("sa.doc_id").as("id_a"), col("sb.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("sa.n")).as("na"), first(col("sb.n")).as("nb"))
      .select(col("id_a"), col("id_b"),
        expr("inter * 10000 div na").as("cont_a_bp"),
        expr("inter * 10000 div nb").as("cont_b_bp"))
      .filter(greatest(col("cont_a_bp"), col("cont_b_bp")) >= minBp)
      .orderBy("id_a", "id_b")
  }

  val d20: Q = (s, d) => containmentPairsOf(corpus(s, d))

  val d20Sql: String =
    s"""WITH $shinglesCte,
      |shh0 AS (SELECT doc_id, ${h60Sql("shingle")} AS sh FROM shingles),
      |dfok AS (SELECT sh FROM shh0 GROUP BY sh HAVING count(*) <= $D6MaxDf),
      |shh AS (SELECT s.doc_id, s.sh FROM shh0 s JOIN dfok USING (sh)),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shh GROUP BY doc_id),
      |ints AS (
      |  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
      |  FROM shh sa JOIN shh sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
      |  GROUP BY 1, 2)
      |SELECT i.id_a, i.id_b,
      |       i.inter * 10000 // na.n AS cont_a_bp,
      |       i.inter * 10000 // nb.n AS cont_b_bp
      |FROM ints i
      |JOIN sizes na ON na.doc_id = i.id_a
      |JOIN sizes nb ON nb.doc_id = i.id_b
      |WHERE greatest(i.inter * 10000 // na.n, i.inter * 10000 // nb.n) >= 8000
      |ORDER BY id_a, id_b""".stripMargin

  // ---- D21: cross-source duplication matrix (dedup observability) ----

  /** D21: WHERE the near-dups come from — d3's verified pair set rolled
    * up to an unordered source-pair matrix (n_pairs + share of all
    * near-dup pairs in bp). The provenance audit a curation team runs
    * before deciding source weights: a hot (src_i, src_j) cell means one
    * feed mirrors another (drop or down-weight the copy), a hot diagonal
    * means a source self-duplicates (template/boilerplate). Corpus doc
    * ids map back to their base document via the dup-shell stride
    * (doc_id % 1000000 — the [[corpus]] construction), so the injected
    * shells attribute to their origin's source.
    *
    * Scale: everything is d3's banded candidate machinery; past the
    * pair set there are two joins against the (doc_id, source) dimension
    * and a source²-bounded aggregate. */
  val d21: Q = (s, d) => {
    val pairs = d3Verified(s, d).select("id_a", "id_b")
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val withA = pairs.join(src.select(col("doc_id").as("ba"), col("source").as("src_a")),
      expr("id_a % 1000000") === col("ba"))
    val withB = withA.join(src.select(col("doc_id").as("bb"), col("source").as("src_b")),
      expr("id_b % 1000000") === col("bb"))
      .select(least(col("src_a"), col("src_b")).as("src_x"),
        greatest(col("src_a"), col("src_b")).as("src_y"))
    val tot = withB.agg(count(lit(1)).as("t"))
    withB.groupBy("src_x", "src_y").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("src_x"), col("src_y"), col("n_pairs"),
        expr("n_pairs * 10000 div t").as("share_bp"))
      .orderBy("src_x", "src_y")
  }

  val d21Sql: String =
    // the modulo keys are PROJECTED before their joins (p0) — an
    // expression-vs-column equality can lose the hash-join derivation in
    // DuckDB and degrade to a spilling nested loop (observed at sf3)
    s"""WITH p AS MATERIALIZED ($d3Sql),
       |p0 AS (SELECT id_a % 1000000 AS ba, id_b % 1000000 AS bb FROM p),
       |sa AS (
       |  SELECT p0.bb, d.source AS src_a
       |  FROM p0 JOIN documents d ON p0.ba = d.doc_id),
       |sab AS (
       |  SELECT least(sa.src_a, d.source) AS src_x,
       |         greatest(sa.src_a, d.source) AS src_y
       |  FROM sa JOIN documents d ON sa.bb = d.doc_id),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM sab)
       |SELECT src_x, src_y, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(count(*) * 10000 // t AS BIGINT) AS share_bp
       |FROM sab CROSS JOIN tot
       |GROUP BY src_x, src_y, t ORDER BY src_x, src_y""".stripMargin

  val d6: Q = (s, d) => ngramJaccardBlockedOf(Tables.documents(s, d))

  val d6Sql: String =
    s"""WITH ${shinglesCteBody("shing", "documents")},
      |shh0 AS (SELECT doc_id, ${h60Sql("shingle")} AS sh FROM shing),
      |shj AS (SELECT s.doc_id, s.sh, d.lang, d.source
      |        FROM shh0 s JOIN documents d USING (doc_id)),
      |dfok AS (SELECT lang, source, sh FROM shj
      |         GROUP BY lang, source, sh HAVING count(*) <= $D6MaxDf),
      |shh AS (SELECT j.doc_id, j.sh FROM shj j JOIN dfok USING (lang, source, sh)),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM documents a JOIN documents b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
      |ints AS (
      |  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS inter
      |  FROM pairs p
      |  JOIN shh sa ON sa.doc_id = p.id_a
      |  JOIN shh sb ON sb.doc_id = p.id_b AND sa.sh = sb.sh
      |  GROUP BY p.id_a, p.id_b)
      |SELECT i.id_a, i.id_b, i.inter * 10000 // (na.n + nb.n - i.inter) AS jac_bp
      |FROM ints i
      |JOIN sizes na ON na.doc_id = i.id_a
      |JOIN sizes nb ON nb.doc_id = i.id_b
      |WHERE i.inter * 10000 // (na.n + nb.n - i.inter) >= 500
      |ORDER BY i.id_a, i.id_b""".stripMargin

  // ---- D7: embedding-cosine near-dup (integer-quantized, sampled pairs) ----

  /** Quantized vectors: q_i = round(e_i · 1000) as int — dot/norm math is
    * then exact, and cos ≥ 0.9 becomes dot ≥ 0 ∧ 100·dot² ≥ 81·‖a‖²·‖b‖². */
  private def qvec(s: SparkSession, d: String, filterExpr: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d).filter(expr(filterExpr))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      // zero-norm vectors (all |e_i| < 0.0005) are dropped: the integer
      // cos >= 0.9 predicate (dot >= 0 AND 100 dot^2 >= 81 na nb) is
      // VACUOUSLY true when a norm is 0, and the all-pairs oracle would
      // emit such a vector against everything while the banded Spark side
      // only sees its band collisions
      .filter(expr("graft_dot(q, q) > 0"))
  }

  private def qvecSql(filter: String): String =
    s"""qvec AS (
       |  SELECT vec_id, q FROM (
       |    SELECT vec_id,
       |           list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |    FROM embeddings WHERE $filter)
       |  WHERE CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) > 0)""".stripMargin

  /** Banding parameters: 48 hyperplanes in 8 bands of 6 sign bits. A true
    * near-dup (cos ≥ 0.9 ⇒ per-bit flip prob ≤ acos(.9)/π ≈ 0.14; the
    * planted pairs sit at cos ≈ 0.999 ⇒ ≈ 0.014) misses a 6-bit band
    * w.p. ≈ 1 − 0.986⁶ ≈ 0.081, so it collides in ≥1 of 8 bands w.p.
    * ≈ 1 − 0.081⁸ ≈ 1 − 2e-9, while a random pair survives a 6-bit band
    * only ≈ 1/64 of the time — candidates come from equi-joins on the
    * (band, key) column, NEVER an all-pairs product. Widened 4 → 8 bands
    * in round 16: the sf10 brute-force cross-check caught 5 of 56,000
    * true pairs missed at 4 bands (≈ 1e-4, exactly the then-documented
    * (1−0.919)⁴ ≈ 4e-5 false-negative rate materializing once the pair
    * population got large enough — a near-boundary vector whose ±50
    * shell perturbation flipped a bit in all 4 bands). More bands only
    * ADD candidates and the cos gate is exact, so every smaller-SF
    * all-pairs oracle stays equal; the recall budget now survives ~1e9
    * true pairs per false negative, the right margin for 100 TB. */
  private val D7Bands = 8
  private val D7BitsPerBand = 6

  /** d7's vector population: the %5 quantized sample plus the injected
    * near-dup shell (first component nudged by +50 ≈ 0.05) — random
    * embeddings never reach cos ≥ 0.9 on their own, so the shell gives
    * the operator true positives to find. Persisted: feeds the band
    * projection, the norms projection and both back-join sides —
    * uncached, the parquet scan + quantize runs ~5×. */
  private def d7Population(s: SparkSession, d: String): DataFrame = {
    val base = qvec(s, d, "vec_id % 5 = 0")
    base.unionAll(
      base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          expr("concat(array(element_at(q, 1) + 50), slice(q, 2, 63))").as("q")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Banded cos ≥ 0.9 pairs over a quantized population — the body of d7,
    * reused unsorted by d12's semantic dedup. */
  private def d7PairsOf(qv: DataFrame): DataFrame = {
    val norms = qv.select(col("vec_id"),
      expr("graft_dot(q, q)").as("nrm"))
    // map-side band keys from driver-side literal hyperplanes (see
    // Similarity.planeWeights) — one row per (vector, band)
    val planes = Similarity.planeWeights(D7Bands * D7BitsPerBand)
    val banded = qv.select(col("vec_id"),
      posexplode(array((0 until D7Bands).map { b =>
        Similarity.signBits("q", planes.slice(b * D7BitsPerBand, (b + 1) * D7BitsPerBand))
      }: _*)).as(Seq("band", "bkey")))
    // candidate pairs: shuffle on (band, bkey) only; distinct collapses
    // multi-band collisions before the expensive dot product
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val pairs = cand
      .join(qv.as("qa"), col("id_a") === col("qa.vec_id"))
      .join(qv.as("qb"), col("id_b") === col("qb.vec_id"))
      .select(col("id_a"), col("id_b"),
        expr("graft_dot(qa.q, qb.q)").as("dot"))
    pairs
      .join(norms.as("na"), col("id_a") === col("na.vec_id"))
      .join(norms.as("nb"), col("id_b") === col("nb.vec_id"))
      .filter(col("dot") >= 0 &&
        col("dot") * col("dot") * 100 >= lit(81) * col("na.nrm") * col("nb.nrm"))
      .select(col("id_a"), col("id_b"), col("dot"),
        col("na.nrm").as("norm_a"), col("nb.nrm").as("norm_b"))
  }

  val d7: Q = (s, d) => {
    // population is persisted (feeds bands + norms + both join sides);
    // materialize the pair list so the cache drops with this call
    val qv = d7Population(s, d)
    val (out, _) = Pinned.checkpoint(d7PairsOf(qv).orderBy("id_a", "id_b"))
    qv.unpersist()
    out
  }
  val d7Sql: String =
    s"""WITH ${qvecSql("vec_id % 5 = 0").replace("qvec AS (", "qbase AS (")},
       |qvec AS (
       |  SELECT vec_id, q FROM qbase
       |  UNION ALL
       |  SELECT vec_id + 100000, list_prepend(q[1] + 50, q[2:64])
       |  FROM qbase WHERE vec_id % 10 = 0),
       |norms AS (
       |  SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm
       |  FROM qvec),
       |dots AS (
       |  SELECT id_a, id_b, CAST(sum(xa * xb) AS BIGINT) AS dot FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b, unnest(a.q) AS xa, unnest(b.q) AS xb
       |    FROM qvec a JOIN qvec b ON a.vec_id < b.vec_id)
       |  GROUP BY id_a, id_b)
       |SELECT d.id_a, d.id_b, d.dot, na.nrm AS norm_a, nb.nrm AS norm_b
       |FROM dots d
       |JOIN norms na ON na.vec_id = d.id_a
       |JOIN norms nb ON nb.vec_id = d.id_b
       |WHERE d.dot >= 0 AND d.dot * d.dot * 100 >= 81 * na.nrm * nb.nrm
       |ORDER BY d.id_a, d.id_b""".stripMargin

  // ---- D8: dedup clusters (connected components over near-dup pairs) ----

  /** D8: the step that makes pair lists actionable — connected components
    * over d3's verified near-dup pairs (jaccard ≥ 0.8), so each document
    * gets a CLUSTER id (= the minimum doc_id reachable through dup edges)
    * and a cluster size; a pipeline keeps `doc_id == cluster_id` and drops
    * the rest. Iterative min-label propagation on DataFrames (the SvmSgd
    * driver-loop pattern): each round joins labels to edges, takes the
    * min neighbor label, and stops when no label changed — rounds ≈ graph
    * diameter (dup clusters are near-cliques, so 2-3). Per round: one
    * shuffle on the edge key + one tiny label join; labels/edges frames
    * hold only documents that HAVE a duplicate, a vanishing fraction of
    * the corpus at 100 TB. Deterministic (min over longs) ⇒ exact oracle
    * via DuckDB's recursive CTE. */
  val d8: Q = (s, d) =>
    dedupClustersOf(d3Verified(s, d).select(col("id_a"), col("id_b")))
      .orderBy("doc_id")

  /** Connected components over a near-dup pair list (id_a, id_b) — every
    * document reachable through dup edges gets cluster_id = the minimum
    * reachable doc_id, plus the cluster size. The library entry point
    * ([[graft.api.GraftApi.dedupClusters]]); iterative min-label
    * propagation, rounds ≈ graph diameter. */
  private[graft] def dedupClustersOf(pairs: DataFrame): DataFrame = {
    // symmetrize via explode, NOT a self-union: a union would embed the
    // whole (uncached) d3 pipeline twice in the plan and evaluate it twice.
    // localCheckpoint (eager), NOT persist: the loop below re-reads edges
    // once per round, and under a plain persist an EVICTED partition
    // re-derives the entire upstream pair pipeline (for d8 that is the
    // whole d3 minhash→band→verify chain) once per round — checkpointing
    // TRUNCATES the lineage so the loop can never reach upstream of here.
    // MEMORY_AND_DISK blocks make eviction-driven recompute a non-issue;
    // the cost is losing recompute-on-executor-loss, acceptable for an
    // iterative driver loop that would restart anyway.
    val (edges, freeEdges) = Pinned.checkpoint(pairs.select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("e"))
      .select(col("e.id_a"), col("e.id_b")),
      eager = false) // materialized by the count below
    // Round-17 note: fusing this emptiness probe into round 1's
    // convergence aggregate (NULL sum ⟺ empty) was tried and MEASURED
    // SLOWER (d10 1.27-1.38× across four sf0.1 sweeps,
    // plans/r17/scoped_after*.json): the count is also the checkpoint's
    // MATERIALIZING action, and without it round 1's edge⋈label join is
    // planned over an unmaterialized RDD scan with unknown statistics —
    // a degraded join strategy that costs far more than the one trivial
    // count job the fusion saved. (The d18 loop is different: its fusion
    // saves one action PER ROUND and its probe is a plain aggregate, and
    // it measured 0.69-0.84× — kept.) The NULL-sum guard below stays:
    // robustness no longer rides on this count.
    if (edges.count() == 0) {
      // no near-dup pairs at all: the recursive-CTE oracle yields an empty
      // result; mirror it (limit(0) folds to an empty LocalRelation —
      // OptimizeLimitZero — so the frame never touches the freed blocks)
      val empty = edges.select(col("id_a").as("doc_id"), col("id_b").as("cluster_id"),
        lit(0L).as("n_members")).limit(0)
      freeEdges()
      empty
    } else {
      var labels = edges.select(col("id_a").as("id")).distinct()
        .select(col("id"), col("id").as("lbl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // labels only ever DECREASE (least of self and neighbors), so the
      // label sum is strictly monotone until the fixpoint: sum-unchanged ⟺
      // element-wise unchanged — one aggregate per round instead of a
      // diff-join against the previous iteration
      var prevSum = Long.MaxValue
      var converged = false
      var rounds = 0
      while (!converged && rounds < 20) {
        val neighborMin = edges.join(labels, col("id_b") === col("id"))
          .groupBy("id_a").agg(min("lbl").as("nlbl"))
        val prev = labels
        labels = labels.join(neighborMin, col("id") === col("id_a"), "left")
          .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sumRow = labels.agg(org.apache.spark.sql.functions.sum("lbl")).head()
        // NULL sum ⟺ zero label rows ⟺ no near-dup pairs at all: the
        // recursive-CTE oracle yields an empty result; the fixpoint is
        // reached trivially and the empty labels frame flows through the
        // (empty) cluster materialization below unchanged
        converged = sumRow.isNullAt(0) || sumRow.getLong(0) == prevSum
        prevSum = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
        prev.unpersist()
        rounds += 1
      }
      require(converged, s"label propagation did not converge in $rounds rounds")
      // materialize the cluster frame eagerly (it covers only documents
      // that HAVE a duplicate — small) so the last round's label cache is
      // dropped HERE instead of leaking into the caller's session
      // (round-13; `labels` is already materialized by the convergence
      // aggregate, so the extra pass costs one small join, never a d3
      // recompute). localCheckpoint also truncates the lineage the
      // downstream anti-join consumers (d10/d12) re-walk.
      // UNSORTED: the presentation sort lives in the d8 registry entry
      // only — d10's anti-join consumer was paying a useless global sort
      // on the cluster frame (measured ~15 s → ~10 s at sf0.1)
      // size via groupBy + join, NOT a window: `labels` is cached, so the
      // two reads are cache hits and the tiny size table broadcast-joins;
      // a window would pay a full sort-exchange pass (measured +40% at
      // sf0.1 in the round-13 scoped bench — the opposite call from lp1,
      // whose labels frame is lazy and single-pass wins)
      val (out, _) = Pinned.checkpoint(labels
        .join(labels.groupBy("lbl").agg(count(lit(1)).as("n_members")), "lbl")
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("n_members")))
      labels.unpersist()
      freeEdges()
      out
    }
  }
  val d8Sql: String = {
    val d3NoTrailing = d3Sql
    s"""WITH RECURSIVE p AS MATERIALIZED ($d3NoTrailing),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION ALL
       |  SELECT id_b, id_a FROM p),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.lbl = e.a),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
       |SELECT cc.id AS doc_id, cc.cluster_id,
       |       CAST(sz.n AS BIGINT) AS n_members
       |FROM cc JOIN (SELECT cluster_id, count(*) AS n
       |              FROM cc GROUP BY cluster_id) sz USING (cluster_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- D18: connected components via large-star / small-star ----

  /** D18: the same cluster frame as d8, computed with the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014). d8's min-label
    * propagation needs one round per unit of graph DIAMETER — fine for
    * near-dup clusters (near-cliques, diameter 2-3), but a worst-case
    * chain of pairwise-similar documents (version histories, boilerplate
    * gradients) makes the diameter unbounded and d8's 20-round cap a
    * correctness cliff. Large-star links every node's larger neighbors
    * directly to its neighborhood minimum; small-star then collapses the
    * smaller neighbors — each pair of rounds roughly HALVES every
    * root-path, so the edge list converges to one star per component in
    * O(log n) rounds regardless of diameter. Per round the cost shape is
    * the same as d8 (groupBy-min on the edge key + an explode-relink,
    * both map-side-combinable equi-shuffles on a frame holding only
    * documents that HAVE a duplicate), so at 100 TB this is the CC
    * engine of choice when cluster topology is adversarial; the
    * convergence test (is the edge list a star forest?) is two cheap
    * aggregates on the shrinking edge frame. Output is identical to d8
    * (min-reachable-id labels are algorithm-independent), so the oracle
    * is d8's recursive CTE verbatim, and `CcSpec` pins the one case d8
    * cannot do: a 64-node path converges here in ≤ 12 rounds. */
  val d18: Q = (s, d) =>
    ccLargeStarSmallStar(d3Verified(s, d).select(col("id_a"), col("id_b")))
      .orderBy("doc_id")

  /** Connected components over a pair list (id_a, id_b) via alternating
    * large-star / small-star rounds; returns (doc_id, cluster_id,
    * n_members) exactly like [[dedupClustersOf]], in O(log n) rounds
    * independent of component diameter. */
  private[graft] def ccLargeStarSmallStar(pairs: DataFrame): DataFrame = {
    // directed-downward invariant: every stored edge is (u, v) with u > v.
    // checkpoint per round: the loop reassigns `edges` ~2·log n times;
    // without truncation the distinct/join lineage stacks and a
    // late-round task replays every earlier round. Superseded rounds
    // free their blocks immediately (Pinned — Spark never GC-frees them).
    var (edges, freeEdges) = Pinned.checkpoint(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct(),
      eager = false) // materialized by round 1's star probe
    // Round-17: no separate emptiness probe — an empty pair list flows
    // through round 1 (every frame in it is empty, the union probe sees
    // no violations, star = true) and out of the empty labels/cluster
    // materialization below with the same schema, so the old
    // edges.head(1) pre-probe was a driver action spent answering a
    // question round 1 answers anyway.
    locally {
      var star = false
      var rounds = 0
      while (!star && rounds < 16) {
        // large-star: on the SYMMETRIC adjacency, each node u relinks its
        // strictly-larger neighbors to m = min(N(u) ∪ {u}); every edge is
        // emitted exactly once (by its smaller endpoint), so connectivity
        // is preserved and targets only ever DECREASE.
        val adj = edges.select(col("u"), col("v"))
          .union(edges.select(col("v").as("u"), col("u").as("v")))
        val mins = adj.groupBy("u")
          .agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        val large = adj.filter(col("v") > col("u"))
          .join(mins, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .distinct()
        // small-star: each node u relinks itself AND its (all smaller)
        // neighbors to m = min of its out-neighborhood — the hop-halving
        // step that gives the logarithmic bound.
        val mins2 = large.groupBy("u").agg(min(col("v")).as("m"))
        // LAZY checkpoint (round-17): the star probe below is the round's
        // single action — its groupBy exchange computes EVERY partition of
        // the new edge frame map-side, which materializes the checkpoint
        // blocks in the same job wave (the round-16 shape paid a separate
        // eager-materialization action first: 2 driver actions per round,
        // now 1). The previous round's blocks are freed only AFTER the
        // probe, so the new round is fully materialized by then and the
        // cut lineage is never re-read.
        val (next, freeNext) = Pinned.checkpoint(large.join(mins2, "u")
          .select(explode(array(
            struct(col("u").as("a"), col("m").as("b")),
            struct(col("v").as("a"), col("m").as("b")))).as("e"))
          .select(col("e.a").as("u"), col("e.b").as("v"))
          .filter(col("u") =!= col("v")).distinct(),
          eager = false)
        // fixpoint ⟺ the edge list is a star forest: every source has ONE
        // target, and no target is itself a source. Both checks run on
        // the dup-only edge frame, not the corpus — and in ONE action
        // (round-16): the converging case used to pay two driver probes
        // per round; a union of the two violation frames probes both with
        // one job wave (star ⟺ both empty). The probe's aggregate/semi-join
        // exchanges force full materialization of `next` regardless of how
        // early executeTake finds a violation row (the map side of the
        // first exchange scans every partition).
        val multiTarget = next.groupBy("u")
          .agg(countDistinct(col("v")).as("nd"))
          .filter(col("nd") > 1).select(lit(1).as("viol"))
        val chainedTarget = next.select(col("v"))
          .join(next.select(col("u").as("v")), Seq("v"), "left_semi")
          .select(lit(1).as("viol"))
        star = multiTarget.unionAll(chainedTarget).head(1).isEmpty
        freeEdges()
        edges = next
        freeEdges = freeNext
        rounds += 1
      }
      require(star, s"large-star/small-star did not converge in $rounds rounds")
      val labels = edges.select(col("u").as("id"), col("v").as("lbl"))
        .union(edges.select(col("v").as("id"), col("v").as("lbl")).distinct())
      // materialize the (dup-docs-only, small) cluster frame so the last
      // round's blocks can be freed here — one result pin remains, owned
      // by the returned frame (releasePinned frees it)
      // groupBy + join over the checkpointed edges (cache-hit reads),
      // not a window — the dedupClustersOf measurement above
      val (out, _) = Pinned.checkpoint(labels
        .join(labels.groupBy("lbl").agg(count(lit(1)).as("n_members")), "lbl")
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("n_members")))
      freeEdges()
      out
    }
  }

  /** d18 computes the identical frame to d8 by a different algorithm, so
    * the oracle is d8's recursive-CTE text verbatim — the SQL ground
    * truth is algorithm-independent. */
  val d18Sql: String = d8Sql

  // ---- D9: benchmark decontamination ----

  /** D9: the pre-training contamination check — training documents that
    * share ANY word 3-gram with the benchmark/eval set (stand-in: doc_id
    * % 97 = 0) are flagged, per language. One LEFT SEMI join of train
    * shingles against the distinct benchmark shingle set: the benchmark
    * side is tiny (the eval suite), so at 100 TB it broadcasts and the
    * train scan never shuffles for the probe; the per-doc distinct + lang
    * rollup are ordinary partial aggregates. The overlap rule (any shared
    * shingle) is the conservative industry default; tightening to k-of-n
    * shingles is a WHERE clause on the same join. */
  val d9: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sh = shinglesOf(docs.select(col("doc_id"), col("text")))
    val benchShingles = sh.filter(col("doc_id") % 97 === 0)
      .select("shingle").distinct()
    val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
      .join(benchShingles, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_train"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .orderBy("lang")
  }
  val d9Sql: String =
    s"""WITH ${shinglesCteBody("shing", "documents")},
       |bench AS (SELECT DISTINCT shingle FROM shing WHERE doc_id % 97 = 0),
       |contam AS (
       |  SELECT DISTINCT s.doc_id FROM shing s
       |  WHERE s.doc_id % 97 != 0
       |    AND EXISTS (SELECT 1 FROM bench b WHERE b.shingle = s.shingle))
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_train,
       |       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_contaminated
       |FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id
       |WHERE d.doc_id % 97 != 0
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // =====================================================================
  //  registry
  // =====================================================================

  // ---- D10: deduplicated corpus (the end-user keep-list) ----

  /** D10: what a training pipeline actually consumes — the corpus with
    * every near-dup cluster collapsed to its canonical (min-id) member.
    * One LEFT ANTI join of the corpus against the non-canonical cluster
    * members (a tiny set: only docs that HAVE a near-dup); non-dup docs
    * never join, so at 100 TB the corpus scan passes through untouched
    * except for the anti-probe against the broadcast-sized drop list. */
  private[graft] def dedupedCorpusOf(docs: DataFrame, minJaccardBp: Int = 8000): DataFrame = {
    val cl = dedupClustersOf(nearDupPairsOf(docs, minJaccardBp).select(col("id_a"), col("id_b")))
    docs.join(cl.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
      Seq("doc_id"), "left_anti")
  }

  val d10: Q = (s, d) =>
    dedupedCorpusOf(corpus(s, d)).select("doc_id").orderBy("doc_id")
  val d10Sql: String =
    s"""WITH RECURSIVE p AS MATERIALIZED ($d3Sql),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION ALL
       |  SELECT id_b, id_a FROM p),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.lbl = e.a),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |$corpusCte
       |SELECT c.doc_id FROM corpus c
       |WHERE c.doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)
       |ORDER BY c.doc_id""".stripMargin

  // ---- D22: best-keeper selection per dup cluster ----

  /** Per-cluster argmax keeper selection over (cluster_id, doc_id, q)
    * members: one group-by with a (q, −doc_id) struct-max — max quality,
    * then MIN doc_id on ties, fully deterministic — plus the eviction
    * accounting (members dropped, quality mass dropped). No window, no
    * sort: a single map-side-combinable aggregate over the member frame
    * (which holds only documents that HAVE a duplicate). */
  private[graft] def bestKeeperOf(members: DataFrame): DataFrame =
    members.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q").as("q"), (-col("doc_id")).as("nid"))).as("best"),
        sum("q").as("sum_q"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.nid")).as("keeper_id"),
        col("best.q").as("keeper_q"),
        (col("n_members") - 1L).as("n_evicted"),
        (col("sum_q") - col("best.q")).as("q_dropped"))
      .orderBy("cluster_id")

  /** D22: the keeper policy production dedup actually ships — d10 keeps
    * the MIN-ID member of each near-dup cluster, but real pipelines keep
    * the BEST member (longest / highest quality: truncated mirrors and
    * stripped re-crawls lose to the fullest copy) and log what the
    * eviction cost. Composition: d3's verified pairs → d8's connected
    * components → one argmax aggregate with quality = text length.
    * Exactness: argmax over (length, −doc_id) longs — deterministic in
    * both engines; the oracle replays the cluster CTE and picks the
    * keeper with a mirrored window. Scale: the cluster frame is only
    * docs WITH a duplicate; the quality join is one broadcast-prone
    * equi-join; the argmax is one partial-aggregating shuffle on
    * cluster_id — no global sort anywhere. */
  val d22: Q = (s, d) => {
    val cl = dedupClustersOf(d3Verified(s, d).select(col("id_a"), col("id_b")))
    val members = cl.join(corpus(s, d), Seq("doc_id"))
      .select(col("cluster_id"), col("doc_id"),
        length(col("text")).cast("long").as("q"))
    bestKeeperOf(members)
  }
  val d22Sql: String =
    s"""WITH RECURSIVE p AS MATERIALIZED ($d3Sql),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION ALL
       |  SELECT id_b, id_a FROM p),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.lbl = e.a),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |$corpusCte,
       |m AS (
       |  SELECT cc.cluster_id, cc.id AS doc_id, CAST(len(c.text) AS BIGINT) AS q
       |  FROM cc JOIN corpus c ON c.doc_id = cc.id),
       |a AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(sum(q) AS BIGINT) AS sum_q
       |  FROM m GROUP BY cluster_id),
       |r AS (
       |  SELECT cluster_id, doc_id, q,
       |         row_number() OVER (PARTITION BY cluster_id
       |           ORDER BY q DESC, doc_id ASC) AS rk
       |  FROM m)
       |SELECT a.cluster_id, a.n_members, r.doc_id AS keeper_id,
       |       r.q AS keeper_q, a.n_members - 1 AS n_evicted,
       |       a.sum_q - r.q AS q_dropped
       |FROM a JOIN r ON r.cluster_id = a.cluster_id AND r.rk = 1
       |ORDER BY a.cluster_id""".stripMargin

  // ---- D23: dedup health report (cluster-size histogram + dup mass) ----

  /** D23: the dedup-health dashboard row — the cluster-SIZE histogram of
    * d8's near-dup components plus the corpus-level duplication-mass
    * summary a pipeline tracks release-over-release: per cluster size s,
    * how many clusters, how many documents they hold, how many would be
    * evicted (s−1 each), and each size's share of the total evictable
    * mass (bp). A creeping tail (one giant component) means boilerplate
    * or a mirror is fusing clusters — the signal to tighten banding or
    * add a stop-shingle; lots of 2-clusters means ordinary re-posts.
    *
    * Scale: two tiny aggregates over the cluster frame (docs that HAVE a
    * duplicate); output is bounded by the distinct-size domain. Oracle
    * replays d8's recursive CTE (sf1-class, the d22 precedent). */
  private[graft] def dedupHealthOf(clusters: DataFrame): DataFrame = {
    val perCluster = clusters.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val total = perCluster.agg(
      coalesce(sum(col("sz") - 1L), lit(0L)).as("tot_evict"))
    perCluster.groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
      .withColumn("n_evict", expr("(sz - 1) * n_clusters"))
      .crossJoin(broadcast(total))
      .withColumn("evict_share_bp", expr("n_evict * 10000 div tot_evict"))
      .select("sz", "n_clusters", "n_docs", "n_evict", "evict_share_bp")
      .orderBy("sz")
  }

  val d23: Q = (s, d) =>
    dedupHealthOf(dedupClustersOf(d3Verified(s, d).select(col("id_a"), col("id_b"))))
  val d23Sql: String =
    s"""WITH RECURSIVE p AS MATERIALIZED ($d3Sql),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION ALL
       |  SELECT id_b, id_a FROM p),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.lbl = e.a),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |pc AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM cc GROUP BY cluster_id),
       |t AS (SELECT CAST(coalesce(sum(sz - 1), 0) AS BIGINT) AS tot_evict FROM pc)
       |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
       |       CAST(sum(sz) AS BIGINT) AS n_docs,
       |       CAST((sz - 1) * count(*) AS BIGINT) AS n_evict,
       |       CAST((sz - 1) * count(*) AS BIGINT) * 10000 // tot_evict AS evict_share_bp
       |FROM pc CROSS JOIN t GROUP BY sz, tot_evict ORDER BY sz""".stripMargin

  // ---- D11: edit-distance near-dup pairs (suffix+prefix-blocked) ----

  /** Skew cap for d11's mid-content block key — same magnitude and
    * rationale as d5's [[MaxBucket]]: a popular (length-band, min-gram)
    * bucket is shared-boilerplate clustering, exact/near-dup machinery's
    * job (d1/d3), and joining inside it recreates the O(n²) pair space
    * blocking exists to avoid. The cap bounds mid-key candidates to
    * ≤ 2n·(cap−1)/2 — linear in n — and is deterministic, so the oracle
    * applies it identically. */
  private[graft] val D11MaxBucket = 50

  /** D11: character-level near-dup pairs by Levenshtein distance — the
    * string-similarity-join shape (PPJoin-family blocking): candidates
    * come from EQUI-joins on THREE block keys, never all-pairs. A
    * 24-char suffix catches leading edits, a 24-char prefix catches
    * trailing edits (suffix-only blocking — rounds ≤ 6 — was blind to
    * edits in the last 24 chars), and a round-8 MID key closes the
    * dual-end blindspot (a pair edited in BOTH the first and last 24
    * chars shares neither end key): "m:" + length-band(32) + the minimum
    * 60-bit char-8-gram hash of the MIDDLE region (chars 25..len−24),
    * sampled at content-anchored positions (first gram char ≡ 0 mod 4 —
    * round 9; see the cost note in [[editDistancePairsOf]]).
    * The middle 8-gram SET is shift-invariant under end edits (an indel
    * of ≤ maxDist chars at either end only perturbs grams within
    * ~maxDist of the region boundary; anchors travel WITH the content,
    * so sparse sampling preserves this), so the min gram is stable unless
    * it sits at the very edge, and each doc emits its band and band+1 —
    * |Δlen| ≤ maxDist < 32 guarantees a true pair shares a band. Mid
    * buckets wider than [[D11MaxBucket]] are skipped (skew cap, mirrored
    * in the oracle). Candidate pairs are deduped as bare (id, id) rows
    * BEFORE the expensive verify, so the block exchange never carries
    * document text; texts are joined back by id and checked with Spark's
    * THRESHOLDED levenshtein (banded DP, early exit at >20; the oracle's
    * plain levenshtein ≤ 20 proves the threshold form exact on
    * survivors). */
  private[graft] def editDistancePairsOf(docs: DataFrame, maxDist: Int = 20): DataFrame = {
    // "s:"/"p:"/"m:" tags keep the three key families from equi-matching.
    // Every key row carries length(text): lev ≤ maxDist implies
    // |Δlen| ≤ maxDist, so the self-join prunes length-mismatched pairs
    // AT JOIN TIME (the 10× scale smoke measured 45% of candidates dying
    // on this 8-byte comparison — pairs that would otherwise ride the
    // distinct AND both text joins just to fail the verify).
    //
    // ROUND-9 cost rework, from measured attribution (a per-stage
    // profile at sf1: the mid key's per-character SQL machinery was 9.5 s
    // of the 19 s warm total — and 6.4 s of that was the interpreted
    // higher-order-function overhead alone, with the md5 body REMOVED,
    // so no SQL reformulation can win): (a) the min-gram is now the
    // native [[graft.functions.MinGram8Hash]] expression — one fused
    // per-row loop over code points, pure 64-bit integer math mirrored
    // verbatim by explicit ascii()·31^j sums in the DuckDB oracle;
    // (b) ALL four block keys come out of ONE corpus scan (was two),
    // localCheckpoint-ed once — the cap aggregate and both self-join
    // sides read the materialized 4-rows-per-doc key frame, never the
    // corpus.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val keyed = docs
      .select(col("doc_id"), length(col("text")).as("l"),
        expr("length(text) div 32").as("lb"),
        expr("graft_mingram8(substring(text, 25, greatest(length(text) - 48, 1)))").as("g"),
        expr("left(text, 24)").as("pfx"), expr("right(text, 24)").as("sfx"))
      .select(col("doc_id"), col("l"), explode(array(
        concat(lit("s:"), col("sfx")),
        concat(lit("p:"), col("pfx")),
        concat_ws(":", lit("m"), col("lb"), col("g")),
        concat_ws(":", lit("m"), col("lb") + 1, col("g")))).as("blk"))
      .localCheckpoint(true)
    val midKeyed = keyed.filter(col("blk").startsWith("m:"))
    val okMid = midKeyed.groupBy("blk").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= D11MaxBucket).select("blk")
    // AQE's size-based partition coalescing is blind to per-row CPU: the
    // key frame is ~15 MB at sf1, so every ENSURE_REQUIREMENTS exchange
    // below it coalesced to ONE partition and the entire self-join +
    // levenshtein verify ran as a single 11.5 s task (stage-listener
    // attribution, round 9). Both hot exchanges are therefore pinned
    // with USER-SPECIFIED numbered repartitions, which AQE never
    // coalesces: `usable` by blk (feeds both self-join sides — the SMJ
    // stage reads the pinned layout directly), and `cand` by id_a ALONE
    // — hash(id_a) still satisfies the verify aggregate's (id_a, id_b)
    // clustering so no extra exchange appears, but it is NOT the
    // distinct's own (id_a, id_b) partitioning, so the optimizer cannot
    // drop it as redundant (a same-keys repartition was silently
    // eliminated, re-exposing the coalesce).
    val shufN = docs.sparkSession.sessionState.conf.numShufflePartitions
    // explicit select: the USING join puts blk first, and unionAll is positional
    val usable = keyed.filter(!col("blk").startsWith("m:")).unionAll(
        midKeyed.join(okMid, Seq("blk")).select(col("doc_id"), col("l"), col("blk")))
      .repartition(shufN, col("blk"))
    val cand = usable.as("a").join(usable.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.l") - col("b.l")) <= maxDist)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct() // a pair found by several keys must verify once, not thrice
      .repartition(shufN, col("id_a"))
    // Single-scan verify (was two corpus scans): explode each candidate
    // pair into its two sides, join the corpus ONCE by doc_id, regroup
    // to (ta, tb). The text-bearing shuffle is 2 rows per CANDIDATE —
    // the tiny side — never a corpus-sized exchange.
    cand
      .select(col("id_a"), col("id_b"),
        explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .join(docs, Seq("doc_id"))
      .groupBy("id_a", "id_b")
      .agg(max(when(col("doc_id") === col("id_a"), col("text"))).as("ta"),
        max(when(col("doc_id") === col("id_b"), col("text"))).as("tb"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta"), col("tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
  }

  val d11: Q = (s, d) =>
    editDistancePairsOf(corpus(s, d)).orderBy("id_a", "id_b")
  val d11Sql: String =
    s"""WITH $corpusCte,
       |blk AS (SELECT doc_id, 's:' || right(text, 24) AS blk FROM corpus
       |        UNION ALL
       |        SELECT doc_id, 'p:' || left(text, 24) AS blk FROM corpus),
       |mid AS (SELECT doc_id, len(text) AS l,
       |               substr(text, 25, greatest(len(text) - 48, 1)) AS m
       |        FROM corpus),
       |mg AS (SELECT doc_id, l,
       |              coalesce(
       |                list_min([1::BIGINT*ascii(m[i+1:i+1]) + 31::BIGINT*ascii(m[i+2:i+2])
       |                          + 961::BIGINT*ascii(m[i+3:i+3]) + 29791::BIGINT*ascii(m[i+4:i+4])
       |                          + 923521::BIGINT*ascii(m[i+5:i+5]) + 28629151::BIGINT*ascii(m[i+6:i+6])
       |                          + 887503681::BIGINT*ascii(m[i+7:i+7]) + 27512614111::BIGINT*ascii(m[i+8:i+8])
       |                          for i in range(greatest(len(m) - 7, 0))]),
       |                CAST(list_sum([ascii(m[j+1:j+1]) *
       |                               [1::BIGINT,31,961,29791,923521,28629151,887503681,27512614111][j+1]
       |                               for j in range(least(len(m), 8))]) AS BIGINT),
       |                0) AS g
       |       FROM mid),
       |mkeys AS (SELECT doc_id, 'm:' || (l // 32) || ':' || g AS blk FROM mg
       |          UNION ALL
       |          SELECT doc_id, 'm:' || (l // 32 + 1) || ':' || g AS blk FROM mg),
       |mok AS (SELECT blk FROM mkeys GROUP BY blk HAVING count(*) <= $D11MaxBucket),
       |allk AS (SELECT * FROM blk
       |         UNION ALL
       |         SELECT mk.doc_id, mk.blk FROM mkeys mk JOIN mok USING (blk)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM allk a JOIN allk b ON a.blk = b.blk AND a.doc_id < b.doc_id)
       |SELECT c.id_a, c.id_b,
       |       CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS dist
       |FROM cand c
       |JOIN corpus ta ON ta.doc_id = c.id_a
       |JOIN corpus tb ON tb.doc_id = c.id_b
       |WHERE levenshtein(ta.text, tb.text) <= 20
       |ORDER BY id_a, id_b""".stripMargin

  // ---- D13: incremental dedup (new batch vs existing corpus) ----

  /** D13: INCREMENTAL dedup — dedupe an ARRIVING batch against the
    * existing corpus without touching old×old: the new batch's MinHash
    * band keys equi-join the old corpus's band keys (at 100 TB the old
    * band table is the stored dedup INDEX — append-only, built once per
    * doc — and the new batch is the small probe side), exact-Jaccard
    * verify runs only on cross candidates, and a new doc with a verified
    * old-side match ≥ minJacBp drops. Old-old pairs are already handled
    * (the old corpus is deduped); new-new dups collapse on the next
    * increment — this is the daily-ingest shape, not a full re-dedup.
    * Split-then-hash ≡ hash-then-split (a doc's signature depends only
    * on its own shingles), which is what makes the exact oracle on the
    * unified corpus possible. */
  /** Band rows of a [[sigSetsOf]] frame via a 2-element EXPLODE (not a
    * self-union, which would scan and hash the text once per branch).
    * `keep` columns ride along with each band row. */
  private def bandsOfSigs(sigs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    sigs.select(col("doc_id") +: keep.map(col) :+
        explode(array(
          struct((col("mh0") * MhP + col("mh1")).as("band"), lit(0).as("bi")),
          struct((col("mh2") * MhP + col("mh3")).as("band"), lit(1).as("bi")))).as("b"): _*)
      .select(col("doc_id") +: keep.map(col) :+ col("b.band") :+ col("b.bi"): _*)

  /** Per-doc MinHash band keys in the incremental-index layout. */
  private[graft] def idxBandsOf(df: DataFrame): DataFrame =
    bandsOfSigs(sigSetsOf(df)).select("doc_id", "band", "bi")

  /** The STORED old-corpus side of the incremental-dedup probe,
    * materialized once: the hot-band-capped band table and the per-doc
    * shingle sets, both eagerly checkpointed so a caller probing MANY
    * batches (st32's stream; a nightly multi-slice ingest) never
    * recomputes the old corpus's minhash machinery per probe — this is
    * the append-only dedup-index deployment the d13 scaladoc describes,
    * made concrete. Returns (cappedBands, shingleSets, free); the free
    * handle releases both checkpoint blocks. */
  private[graft] def incrementalIndexOf(
      oldDocs: DataFrame): (DataFrame, DataFrame, () => Unit) = {
    // ONE pass over the old corpus text (round-16): the fused signature
    // frame is checkpointed first, and both index faces — the capped band
    // table and the shingle sets — derive from those blocks instead of
    // re-exploding and re-hashing the corpus once each (2 text passes → 1).
    val (sig, freeSig) = Pinned.checkpoint(sigSetsOf(oldDocs))
    val oldBands = bandsOfSigs(sig).select("doc_id", "band", "bi")
    val okOld = oldBands.groupBy("band", "bi").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= D3MaxBand).select("band", "bi")
    val (ob, freeOb) = Pinned.checkpoint(oldBands.join(okOld, Seq("band", "bi")))
    val (os, freeOs) = Pinned.checkpoint(
      sig.select(col("doc_id").as("id_old"), col("hs").as("ho")))
    freeSig() // both faces are materialized; the fused blocks can go
    (ob, os, () => { freeOb(); freeOs() })
  }

  private[graft] def incrementalKeepOf(oldDocs: DataFrame, newDocs: DataFrame,
      minJacBp: Int = 8000): DataFrame =
    newDocs.join(incrementalDroppedOf(oldDocs, newDocs, minJacBp),
      Seq("doc_id"), "left_anti")

  /** The new-side doc_ids with a verified old-side near-dup — the DROP
    * set [[incrementalKeepOf]] anti-joins away. Exposed separately so a
    * consumer that only needs the verdict flag (pipe4/st32's admission
    * rollup) can LEFT-join this small frame instead of re-joining the
    * full arriving batch against its own kept subset. */
  private[graft] def incrementalDroppedOf(oldDocs: DataFrame, newDocs: DataFrame,
      minJacBp: Int = 8000): DataFrame = {
    // single-shot path: the old side stays LAZY (no index materialized —
    // one probe pays one scan either way)
    // scale guard on the STORED-INDEX side (see D3MaxBand): a hot band in
    // the old corpus otherwise multiplies every probing new doc by the
    // full bucket width; capping the index side bounds cross candidates
    // to cap·|new bands| regardless of corpus size. (In the append-only
    // index deployment the bucket width check is maintained at append
    // time for free.)
    val oldSig = sigSetsOf(oldDocs)
    val oldBands = bandsOfSigs(oldSig).select("doc_id", "band", "bi")
    val okOld = oldBands.groupBy("band", "bi").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= D3MaxBand).select("band", "bi")
    incrementalDroppedAgainst(oldBands.join(okOld, Seq("band", "bi")),
      oldSig.select(col("doc_id").as("id_old"), col("hs").as("ho")),
      newDocs, minJacBp)
  }

  /** Probe an arriving batch against a PREBUILT incremental index
    * ([[incrementalIndexOf]]'s (cappedBands, shingleSets)) — identical
    * math to [[incrementalKeepOf]], the old side just comes
    * materialized. */
  private[graft] def incrementalKeepAgainst(cappedBands: DataFrame,
      oldSets: DataFrame, newDocs: DataFrame, minJacBp: Int = 8000): DataFrame =
    newDocs.join(incrementalDroppedAgainst(cappedBands, oldSets, newDocs, minJacBp),
      Seq("doc_id"), "left_anti")

  /** [[incrementalDroppedOf]] against a prebuilt index. Round-16 probe
    * shape: the arriving batch's fused signature frame ([[sigSetsOf]]) is
    * consumed ONCE — its shingle sets ride WITH the band rows through the
    * candidate join (first(hn) per candidate pair is well-defined: every
    * band row of a doc carries the identical hs array), so the batch's
    * shingle machinery runs once per probe instead of twice (the old
    * cand-side minhash agg + set-side agg were separate passes, and the
    * self-union band shape planned the minhash agg twice more). */
  private[graft] def incrementalDroppedAgainst(cappedBands: DataFrame,
      oldSets: DataFrame, newDocs: DataFrame, minJacBp: Int = 8000): DataFrame =
    bandsOfSigs(sigSetsOf(newDocs), keep = Seq("hs")).as("n")
      .join(cappedBands.as("o"),
        col("n.band") === col("o.band") && col("n.bi") === col("o.bi"))
      .groupBy(col("n.doc_id").as("id_new"), col("o.doc_id").as("id_old"))
      .agg(first(col("n.hs")).as("hn"))
      .join(oldSets, Seq("id_old"))
      .select(col("id_new"),
        expr("size(array_intersect(hn, ho))").cast("long").as("inter"),
        (size(col("hn")) + size(col("ho"))).cast("long").as("sz"))
      .filter(col("inter") * 10000 >= (col("sz") - col("inter")) * minJacBp)
      .select(col("id_new").as("doc_id"))
      .distinct()

  // PRECONDITION for the incremental verify: `hs` must be a SET per doc —
  // `array_intersect` has distinct semantics while the d13 oracle counts
  // shingle-hash join matches with multiplicity, and the two agree only
  // because (a) [[sigSetsOf]]'s shingle kernel drops each row's repeated
  // shingles before hashing (the oracle's `SELECT DISTINCT` shingles)
  // and (b) within-doc 60-bit collisions are effectively impossible
  // (≤ a few hundred shingles/doc vs a 2^60 space). Without that
  // de-duplication, size(hs) would count repeated shingles that
  // array_intersect collapses, and the Jaccard would drift from the
  // oracle's.
  private[graft] def shSetsOf(df: DataFrame): DataFrame = sigSetsOf(df).select("doc_id", "hs")

  /** Fixture binding: "old" = doc_id % 3 ≠ 0, "new" = doc_id % 3 = 0 —
    * the planted dup shells sit at id + 1,000,000/2,000,000 (both ≡ 1 and
    * ≡ 2 mod 3), so two thirds of the planted pairs cross the split in
    * one direction or the other and the rest stay out of scope. */
  val d13: Q = (s, d) => {
    val c = corpus(s, d)
    incrementalKeepOf(c.filter(col("doc_id") % 3 =!= 0), c.filter(col("doc_id") % 3 === 0))
      .select("doc_id").orderBy("doc_id")
  }
  /** d13's CTE chain through `dropped` (the new-side ids with a verified
    * old-side near-dup) — shared with pipe4's incremental-admission
    * oracle, which appends its quality/rollup tail. */
  private[ops] val d13Ctes: String =
    s"""$minhashCte,
       |bands AS (
       |  SELECT doc_id, mh0 * $MhP + mh1 AS band, 0 AS bi FROM minhash
       |  UNION ALL
       |  SELECT doc_id, mh2 * $MhP + mh3 AS band, 1 AS bi FROM minhash),
       |ob AS (SELECT * FROM bands WHERE doc_id % 3 <> 0),
       |obok AS (SELECT band, bi FROM ob GROUP BY band, bi HAVING count(*) <= $D3MaxBand),
       |obb AS (SELECT o.* FROM ob o JOIN obok USING (band, bi)),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
       |  FROM bands n JOIN obb o
       |    ON n.band = o.band AND n.bi = o.bi
       |   AND n.doc_id % 3 = 0),
       |shh AS (SELECT doc_id, ${h60Sql("shingle")} AS sh FROM shingles),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shh GROUP BY doc_id),
       |ints AS (
       |  SELECT c.id_new, c.id_old, CAST(count(*) AS BIGINT) AS inter
       |  FROM cand c
       |  JOIN shh sn ON sn.doc_id = c.id_new
       |  JOIN shh so ON so.doc_id = c.id_old AND sn.sh = so.sh
       |  GROUP BY c.id_new, c.id_old),
       |dropped AS (
       |  SELECT DISTINCT i.id_new FROM ints i
       |  JOIN sizes nn ON nn.doc_id = i.id_new
       |  JOIN sizes no ON no.doc_id = i.id_old
       |  WHERE i.inter * 10000 >= (nn.n + no.n - i.inter) * 8000)""".stripMargin

  val d13Sql: String =
    s"""WITH $d13Ctes
       |SELECT c.doc_id FROM corpus c
       |WHERE c.doc_id % 3 = 0 AND c.doc_id NOT IN (SELECT id_new FROM dropped)
       |ORDER BY c.doc_id""".stripMargin

  // ---- D12: semantic dedup (SemDeDup-style, embedding-space clusters) ----

  /** D12: semantic dedup over EMBEDDING space — the SemDeDup recipe
    * (Abbas et al. 2023, arXiv:2303.09540): treat cos ≥ 0.9 pairs as
    * duplicate edges, cluster them, keep one representative (the minimum
    * id) per semantic cluster, and pass everything else through. Pure
    * composition of shipped pieces: d7's banded cos-pair generation
    * (equi-joins on hyperplane sign bands, never all-pairs) feeds d8's
    * checkpointed label propagation, and the keep-list applies as a LEFT
    * ANTI join — the same map-side endgame as d10, but keyed on meaning
    * rather than shingles, so paraphrase-level duplicates that share no
    * 5-gram still collapse. At 100 TB the anti-probe list holds only
    * vectors that HAVE a semantic dup — broadcast-sized. */
  /** Semantic dedup keep-list over quantized vectors (vec_id BIGINT,
    * q ARRAY<BIGINT>, the round(e·1000) convention of [[qvec]]) — the
    * library entry point ([[graft.api.GraftApi.semanticDedupedIds]]).
    * Returns the vec_ids that survive: one representative (min id) per
    * cos ≥ 0.9 cluster, everything un-duplicated untouched. */
  private[graft] def semanticDedupedIdsOf(vecs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val cl = dedupClustersOf(d7PairsOf(vecs).select(col("id_a"), col("id_b")))
    vecs.select(col("vec_id"))
      .join(cl.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
  }

  val d12: Q = (s, d) => {
    val qv = d7Population(s, d)
    val (out, _) = Pinned.checkpoint(semanticDedupedIdsOf(qv).orderBy("vec_id"))
    qv.unpersist()
    out
  }
  val d12Sql: String =
    s"""WITH RECURSIVE p AS MATERIALIZED ($d7Sql),
       |${qvecSql("vec_id % 5 = 0").replace("qvec AS (", "qbase AS (")},
       |pop AS (
       |  SELECT vec_id FROM qbase
       |  UNION ALL
       |  SELECT vec_id + 100000 FROM qbase WHERE vec_id % 10 = 0),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION ALL
       |  SELECT id_b, id_a FROM p),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.lbl = e.a),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
       |SELECT v.vec_id FROM pop v
       |WHERE v.vec_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)
       |ORDER BY v.vec_id""".stripMargin

  // ---- D14: exact substring dedup (duplicated token-window detection) ----

  /** D14: EXACT SUBSTRING dedup signal — the hashed-window variant of Lee
    * et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499): a fixed-width token window (W=16,
    * stride 1) is "duplicated" when its hash occurs in ≥ 2 DISTINCT
    * documents, and each doc reports how much of it is covered by such
    * windows — the per-doc removal signal the paper's suffix-array pass
    * produces, re-expressed as pure hash aggregation (no suffix array
    * needed for the fixed-W variant, which is what production pipelines
    * actually run at scale).
    *
    * Scale design: windows are generated MAP-SIDE (one `transform` over
    * the token array — rows out ≈ tokens in, same order as t1's explode);
    * the only corpus-wide exchange is the hash groupBy (8-byte keys,
    * partial-aggregated), and the dup-hash set joins back as a LEFT join
    * on the same 8-byte key. Nothing is quadratic: a window repeated in
    * k docs costs k rows, not k² pairs. At 100 TB the window-hash
    * aggregate is the same shape as d1's exact-hash groupBy — the
    * cheapest dedup exchange there is. Docs shorter than W tokens have
    * no windows and are excluded symmetrically in both engines. */
  private[graft] val D14W = 16

  /** Per-doc duplicated-window stats of any (doc_id, text) frame — the
    * library entry point ([[graft.api.GraftApi.substringDupStats]]).
    * Returns docs with ≥ 1 duplicated window: (doc_id, n_windows,
    * n_dup_windows, dup_bp). */
  /** (doc_id, i, wh): the 60-bit hash of the w-token window starting at
    * 0-based token position i — map-side (one transform + posexplode per
    * doc); docs shorter than w tokens emit nothing. Shared by d14/d15. */
  private def windowHashesOf(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $w), i -> " +
          s"CAST(conv(substring(md5(concat_ws(' ', slice(toks, i + 1, $w))), 1, 15), 16, 10) AS LONG))"))
        .as(Seq("i", "wh")))

  /** Per-window dup flag: a window hash is duplicated iff it occurs in
    * ≥ 2 DISTINCT docs ⟺ min(doc_id) ≠ max(doc_id) over its occurrences
    * — as a window function over `wh`, so the (expensive, md5-per-token)
    * window-hash generation is computed ONCE and flows through a single
    * exchange. The previous shape aggregated the dup-hash set separately
    * and joined it back, which planned the whole windowHashesOf subtree
    * (corpus scan + split + md5 per window) TWICE (round-16, guide §2.4:
    * two operations keyed the same way share one exchange). */
  private def flagDupWindows(wins: DataFrame): DataFrame = {
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("wh")
    wins.withColumn("isdup",
      min(col("doc_id")).over(byHash) =!= max(col("doc_id")).over(byHash))
  }

  private[graft] def substringDupStatsOf(docs: DataFrame, w: Int = D14W): DataFrame =
    flagDupWindows(windowHashesOf(docs, w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("isdup"), 1L).otherwise(0L)).as("n_dup_windows"))
      .filter(col("n_dup_windows") > 0)
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        expr("n_dup_windows * 10000 div n_windows").as("dup_bp"))

  val d14: Q = (s, d) =>
    substringDupStatsOf(corpus(s, d)).orderBy("doc_id")
  val d14Sql: String =
    s"""WITH $corpusCte,
       |toks AS (SELECT doc_id, str_split(text, ' ') AS toks FROM corpus),
       |wins AS (
       |  SELECT doc_id,
       |         unnest([('0x' || substr(md5(array_to_string(toks[i+1:i+$D14W], ' ')), 1, 15))::BIGINT
       |                 for i in range(len(toks) - ${D14W - 1})]) AS wh
       |  FROM toks WHERE len(toks) >= $D14W),
       |dh AS (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
       |agg AS (
       |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |         CAST(sum(CASE WHEN w.wh IN (SELECT wh FROM dh) THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_dup_windows
       |  FROM wins w GROUP BY w.doc_id)
       |SELECT doc_id, n_windows, n_dup_windows,
       |       n_dup_windows * 10000 // n_windows AS dup_bp
       |FROM agg WHERE n_dup_windows > 0 ORDER BY doc_id""".stripMargin

  // ---- D15: exact substring REMOVAL (excise duplicated spans) ----

  /** D15: the removal step Lee et al. 2022 run after detection — every
    * token covered by a duplicated window (d14's predicate) is excised
    * and the doc is reassembled from the surviving tokens. Per changed
    * doc: token counts before/after and the md5 of the cleaned text (the
    * full text would dwarf the result frame; the hash pins it exactly).
    *
    * Scale design: the per-doc duplicated-start list rides ONE
    * collect_list over the (already tiny) dup-window rows, joins back by
    * doc_id, and the excision itself is a map-side higher-order `filter`
    * whose index lambda probes the start list — per-token cost is
    * O(dup windows in that doc), no shuffle beyond d14's own hash
    * aggregate. Docs with nothing to remove never enter the join (inner
    * on the dup-start frame). */
  private[graft] def substringRemovalOf(docs: DataFrame, w: Int = D14W): DataFrame = {
    // dup flag via the shared min≠max window (one windowHashesOf compute
    // instead of the semi-join's two — round-16, see flagDupWindows)
    val dupStarts = flagDupWindows(windowHashesOf(docs, w))
      .filter(col("isdup"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("i"))).as("ds"))
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(dupStarts, Seq("doc_id"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        expr(s"filter(toks, (x, j) -> NOT exists(ds, i -> i <= j AND j < i + $w))")
          .as("kept"))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("cleaned_md5"))
  }

  val d15: Q = (s, d) =>
    substringRemovalOf(corpus(s, d)).orderBy("doc_id")
  val d15Sql: String =
    s"""WITH $corpusCte,
       |toks AS (SELECT doc_id, str_split(text, ' ') AS toks FROM corpus),
       |wins AS (
       |  SELECT doc_id, unnest(range(len(toks) - ${D14W - 1})) AS i,
       |         unnest([('0x' || substr(md5(array_to_string(toks[i+1:i+$D14W], ' ')), 1, 15))::BIGINT
       |                 for i in range(len(toks) - ${D14W - 1})]) AS wh
       |  FROM toks WHERE len(toks) >= $D14W),
       |dh AS (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
       |ds AS (SELECT doc_id, list(i ORDER BY i) AS ds
       |       FROM wins WHERE wh IN (SELECT wh FROM dh) GROUP BY doc_id),
       |cut AS (
       |  SELECT t.doc_id, len(t.toks) AS n_tokens,
       |         [t.toks[j+1] for j in range(len(t.toks))
       |          if len(list_filter(d.ds, i -> i <= j and j < i + $D14W)) = 0] AS kept
       |  FROM toks t JOIN ds d ON t.doc_id = d.doc_id)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
       |       md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_md5
       |FROM cut ORDER BY doc_id""".stripMargin

  // ---- D16: fuzzy decontamination (n-gram overlap RATIO vs the eval set) ----

  /** d16's flag threshold: a train doc is reported when ≥ 5% of its
    * distinct 3-gram shingles appear in the eval set. Dodge et al.'s C4
    * analysis (arXiv:2104.08758) shows exact-match-only contamination
    * checks miss near-verbatim eval leakage; the overlap-RATIO form is
    * the standard fuzzy tightening (GPT-3 appendix C uses the same
    * shape over 13-grams). */
  private[graft] val D16ThresholdBp = 500L

  /** D16: FUZZY decontamination — d9 flags a train doc on ANY shared
    * shingle with the eval set (the conservative binary rule); d16
    * reports the per-doc overlap ratio, so a pipeline can rank and
    * threshold instead of dropping on a single collision: for each
    * train doc, the fraction (in exact basis points) of its DISTINCT
    * word-3-gram shingles that occur anywhere in the eval set
    * (stand-in: doc_id % 97 = 0, as d9).
    *
    * Scale design: identical exchange shape to d9 — the eval shingle
    * set is tiny (the eval suite, not the corpus) so it BROADCASTS and
    * the train shingle stream never shuffles for the probe (LEFT join
    * against the broadcast, hit = matched); the only corpus-wide
    * exchange is the per-doc count aggregate, partial-aggregated on
    * doc_id. Ratios are exact integer basis points (hits · 10⁴ div
    * total) — no doubles, so the hash-compare oracle is bit-stable. */
  /** Per-doc eval-overlap ratio of any (doc_id, text) train frame vs an
    * eval (doc_id, text) frame — the library entry point
    * ([[graft.api.GraftApi.evalOverlapStats]]). Unfiltered: every train
    * doc with ≥ 1 shingle reports (n_shingles, n_hit, overlap_bp). */
  private[graft] def evalOverlapStatsOf(train: DataFrame, eval: DataFrame): DataFrame = {
    val benchShingles = shinglesOf(eval).select("shingle").distinct()
    shinglesOf(train)
      .join(broadcast(benchShingles.withColumn("hit", lit(1L))),
        Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("overlap_bp", expr("n_hit * 10000 div n_shingles"))
  }

  val d16: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    evalOverlapStatsOf(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0))
      .filter(col("overlap_bp") >= D16ThresholdBp)
      .orderBy("doc_id")
  }
  val d16Sql: String =
    s"""WITH ${shinglesCteBody("shing", "documents")},
       |bench AS (SELECT DISTINCT shingle FROM shing WHERE doc_id % 97 = 0),
       |agg AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |         CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_hit
       |  FROM shing s LEFT JOIN bench b ON s.shingle = b.shingle
       |  WHERE s.doc_id % 97 != 0
       |  GROUP BY s.doc_id)
       |SELECT doc_id, n_shingles, n_hit,
       |       n_hit * 10000 // n_shingles AS overlap_bp
       |FROM agg
       |WHERE n_hit * 10000 // n_shingles >= $D16ThresholdBp
       |ORDER BY doc_id""".stripMargin

  // ---- D17: PPJoin-style prefix-filtered exact Jaccard join ----

  /** D17: exact set-similarity self-join by PREFIX FILTERING (Chaudhuri
    * et al. ICDE 2006 / Bayardo et al. WWW 2007 / Xiao et al. PPJoin) —
    * the principled scale answer where d6 uses a document-frequency cap:
    * instead of dropping hot shingles (lossy), order every doc's shingle
    * set rarest-first by global (df, sh) and join only on each doc's
    * PREFIX of length n − ⌈τ·n⌉ + 1. The prefix lemma guarantees every
    * pair with Jaccard ≥ τ shares a prefix shingle (α = ⌈τ·max(n_a,n_b)⌉
    * common elements are required, and both prefixes used here are at
    * least n − α + 1 long), so the result is EXACT — the DuckDB oracle is
    * the brute-force all-shared-shingle-pairs join, which this must
    * reproduce bit-for-bit. Candidates are additionally pruned by the
    * length filter (10⁴·n_b ≥ τ_bp·n_a when n_a ≥ n_b — a pair failing
    * it cannot reach τ).
    *
    * Scale: the join key space is the RAREST shingles by construction —
    * prefix tokens have the lowest df in the corpus, so bucket sizes are
    * minimal exactly where d6-style self-joins blow up on stop-shingles;
    * no cap, no loss. One df aggregate + one per-doc sort of its own
    * shingle list (map-side within groupBy) + prefix-key equi-join +
    * verify join carrying integer arrays. τ = 0.6 (6000 bp).
    *
    * SHINGLE WIDTH IS THE DE-SATURATION KNOB: prefix filtering needs a
    * key space that does not saturate — once every shingle is frequent,
    * even the rarest prefix keys carry wide buckets and candidate
    * generation degenerates toward all-pairs (measured here: the
    * fixture's ~30-word vocabulary saturates the 3-gram space by sf3 —
    * mean shingle df ≈ 500 — and d17-on-3-grams went superlinear, while
    * d6 hides the same saturation behind its lossy DF cap). d17
    * therefore shingles at w = 5 (vocab^5 key space; at web scale the
    * same rule picks w so that |corpus shingles| ≪ vocab^w), which keeps
    * prefix-bucket df near 1 on permuted text and candidates linear in
    * the true pair count. */
  private val D17W = 5

  /** w-gram shingles for d17 (wider than the shared 3-gram shinglesOf —
    * see the de-saturation note above); <w-word docs fall back to the
    * whole text, like shinglesOf. */
  private def wideShinglesOf(docs: DataFrame, w: Int): DataFrame = {
    // zip-of-shifted-slices (constant splits per row) — see [[shingleArr]]
    val n = s"size(split(text, ' ')) - ${w - 1}"
    val zips = (1 to w).map(k => s"slice(split(text, ' '), $k, $n)").mkString(", ")
    val fields = (0 until w).map(i => s"s['$i']").mkString(", ")
    docs
      .select(col("doc_id"), explode(
        when(size(split(col("text"), " ")) >= w,
          expr(s"transform(arrays_zip($zips), s -> concat_ws(' ', $fields))"))
          .otherwise(array(col("text")))).as("shingle"))
      .distinct()
  }

  private def wideShinglesCte(cteName: String, src: String, w: Int): String =
    s"""$cteName AS (
       |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(str_split(text, ' ')) >= $w
       |    THEN [array_to_string((str_split(text, ' '))[i+1:i+$w], ' ')
       |          for i in range(len(str_split(text, ' ')) - ${w - 1})]
       |    ELSE [text] END) AS shingle
       |  FROM $src)""".stripMargin

  private[graft] def ppjoinPairsOf(docs: DataFrame, tauBp: Long): DataFrame = {
    val sh = wideShinglesOf(docs.select(col("doc_id"), col("text")), D17W)
      .select(col("doc_id"), h60(col("shingle")).as("sh"))
    val dfAgg = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // perDoc feeds the prefix explode AND both sides of the verify join —
    // localCheckpoint so the shingle explode + df join + per-doc sort run
    // once, not three times. The pin backs the returned frame (Spark
    // never GC-frees checkpoint blocks — round-13 probe); releasePinned
    // is the owning scope.
    val perDoc = sh.join(dfAgg, "sh")
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(df, sh))), x -> x.sh)").as("arr"))
      .withColumn("n", size(col("arr")).cast("long"))
      .withColumn("p", expr(s"n - (($tauBp * n + 9999) div 10000) + 1"))
      .localCheckpoint()
    val pref = perDoc.select(col("doc_id"), col("n"),
      explode(expr("slice(arr, 1, CAST(p AS INT))")).as("psh"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.psh") === col("b.psh") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") * 10000 >= col("a.n") * tauBp &&
          col("a.n") * 10000 >= col("b.n") * tauBp)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
    cand
      .join(perDoc.select(col("doc_id").as("id_a"), col("arr").as("arr_a"), col("n").as("na")), "id_a")
      .join(perDoc.select(col("doc_id").as("id_b"), col("arr").as("arr_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long").as("inter"),
        col("na"), col("nb"))
      .select(col("id_a"), col("id_b"),
        expr("inter * 10000 div (na + nb - inter)").as("jac_bp"))
      .filter(col("jac_bp") >= tauBp)
      .orderBy("id_a", "id_b")
  }

  private val D17TauBp = 6000L

  val d17: Q = (s, d) => ppjoinPairsOf(corpus(s, d), D17TauBp)

  /** Brute-force ground truth: ALL pairs sharing any shingle, exact
    * Jaccard, ≥ τ — no prefix machinery. The engine's filtered join must
    * reproduce this exactly (that is the point of the oracle). */
  val d17Sql: String =
    s"""WITH $corpusCte,
       |${wideShinglesCte("shing", "corpus", D17W)},
       |shh AS (SELECT doc_id, ${h60Sql("shingle")} AS sh FROM shing),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shh GROUP BY doc_id),
       |ints AS (
       |  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM shh sa JOIN shh sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
       |  GROUP BY sa.doc_id, sb.doc_id)
       |SELECT i.id_a, i.id_b,
       |       i.inter * 10000 // (na.n + nb.n - i.inter) AS jac_bp
       |FROM ints i
       |JOIN sizes na ON na.doc_id = i.id_a
       |JOIN sizes nb ON nb.doc_id = i.id_b
       |WHERE i.inter * 10000 // (na.n + nb.n - i.inter) >= $D17TauBp
       |ORDER BY id_a, id_b""".stripMargin

  // ---- D24: Fellegi–Sunter probabilistic record linkage ----

  /** D24: probabilistic record linkage (Fellegi & Sunter, JASA 1969) —
    * the ENTITY-RESOLUTION face of dedup: where d1-d17 ask "is this the
    * same TEXT?", d24 asks "is this the same REAL-WORLD ENTITY?" from
    * weak field agreements (phone prefix, balance bucket, address
    * initial). Per field the log-likelihood-ratio weights use the
    * textbook practical estimates: m fixed at 0.95 (19/20 — exact
    * rational) and u ESTIMATED FROM THE DATA as the random-agreement
    * rate u_f = Σ_v c_v²/N² (an exact integer ratio off one value-
    * frequency aggregate). Each weight is then ONE ln over an exact
    * integer ratio, rounded ONCE to e6 (the t14 convention):
    * w_agree = ln(19N²/(20·Σc²)), w_dis = ln(N²/(20·(N²−Σc²))); a
    * constant field (Σc² = N²) contributes its uninformative-agreement
    * weight and a 0 disagreement weight (disagreement is impossible).
    * Pair scores are integer sums of the six weights; pairs at or above
    * `minScoreE6` survive.
    *
    * Scale: candidate pairs come from BLOCKING with the d5 deterministic
    * skew cap — md5-ranked members per block, `cap` kept, so every
    * block contributes ≤ cap·(cap−1)/2 pairs no matter how hot the
    * block; the weight table is a broadcast 1-row frame; never an
    * all-pairs join. Library entry point:
    * [[graft.api.GraftApi.recordLinkage]]. */
  /** Exact-gate variant (round-16 verdict #6): survival iff the exact
    * integer likelihood ratio Π num_f / Π den_f ≥ `lrNum`/`lrDen` — the
    * same DECIMAL(38,0) cross-multiplication as the default gate, so the
    * kept SET is engine-independent for ANY caller threshold, removing
    * the e6-rounded-ln ±1e-6 boundary caveat entirely. A caller with a
    * ln-scale threshold θ passes any rational p/q of their choice near
    * e^θ (attainable LRs are rational, e^θ is not, so the rational choice
    * IS the set definition — there is no "the" exact e^θ gate to miss).
    * Overflow-proof for EVERY Long p/q: a naive lr·q cross-multiply can
    * exceed DECIMAL(38,0) (products reach 10³⁶ and thresholds like
    * 361/2250 pushed it past 10³⁸ under ANSI), so each side is compared
    * as two exact 10¹⁸-radix limbs — hi = (lr div 10¹⁸)·t + (lo·t div
    * 10¹⁸), lo = lo·t mod 10¹⁸, then a lexicographic (hi, lo) compare.
    * Every intermediate stays < 10³⁷ (lr ≤ 10³⁶ ⇒ limbs < 10¹⁸, t <
    * 9.3·10¹⁸), so the gate is exact for any caller threshold with NO
    * overflow path at all. The fraction is gcd-reduced for headroom. */
  private[graft] def recordLinkageLrOf(recs: DataFrame, cap: Int,
      lrNum: Long, lrDen: Long): DataFrame = {
    require(lrNum >= 0L && lrDen >= 1L, "threshold must be a nonneg/positive rational")
    val g = BigInt(lrNum).gcd(BigInt(lrDen)).toLong max 1L
    val (p, q) = (lrNum / g, lrDen / g)
    val S = "1000000000000000000" // 10^18 limb radix
    def limbs(prod: String, t: Long): (String, String) = {
      val lo = s"(($prod % $S) * CAST($t AS DECIMAL(38,0)))"
      (s"(($prod div $S) * CAST($t AS DECIMAL(38,0)) + $lo div $S)", s"($lo % $S)")
    }
    val (aHi, aLo) = limbs("lr_num", q)
    val (bHi, bLo) = limbs("lr_den", p)
    linkageScoredPairsOf(recs, cap)
      .filter(expr(s"$aHi > $bHi OR ($aHi = $bHi AND $aLo >= $bLo)"))
      .select(col("id_a"), col("id_b"), col("n_agree"), col("score_e6"))
      .orderBy("id_a", "id_b")
  }

  private[graft] def recordLinkageOf(recs: DataFrame, cap: Int = 40,
      minScoreE6: Long = 0L): DataFrame =
    linkageScoredPairsOf(recs, cap)
      .filter(if (minScoreE6 == 0L) col("lr_num") >= col("lr_den")
        else col("score_e6") >= minScoreE6)
      .select(col("id_a"), col("id_b"), col("n_agree"), col("score_e6"))
      .orderBy("id_a", "id_b")

  /** Shared Fellegi–Sunter scoring pipeline: blocked+capped candidate
    * pairs with the e6 display score AND the exact DECIMAL(38,0)
    * likelihood-ratio products (`lr_num`, `lr_den`) both attached; the
    * public entry points differ only in the survival filter. */
  private def linkageScoredPairsOf(recs: DataFrame, cap: Int): DataFrame = {
    // EXACT GATE (round-14, closing the round-13 fragility): pair
    // membership at the default `minScoreE6 = 0` is decided by an exact
    // integer likelihood-ratio product, never a transcendental. The
    // per-field random-agreement probability is discretized ONCE as
    // u12 = Σc²·10¹² div N² (exact integer floor in both engines); a
    // field then contributes ratio 95·10¹⁰/u12 on agreement (m = 0.95 =
    // 95·10¹⁰/10¹²) and 5·10¹⁰/(10¹²−u12) on disagreement, and the pair
    // survives iff Π num_f ≥ Π den_f, cross-multiplied in DECIMAL(38,0)
    // (products ≤ 10³⁶ — safe for corpora to 10¹³ records; DuckDB
    // mirrors in HUGEINT). A constant field (u12 = 10¹²) contributes the
    // neutral (1, 1) on its impossible disagreement branch, and a
    // beyond-rare u12 = 0 (only attainable past 10¹² records) makes the
    // den product 0, auto-keeping — the infinite-weight limit. The
    // e6-rounded ln() weights remain as DISPLAY columns (computed from
    // the same u12, so score sign and set membership agree up to e6
    // rounding); a 1-ulp libm difference can shift a printed weight by
    // ±1e-6 at a .5 boundary but can no longer change the returned SET.
    // A caller passing a nonzero `minScoreE6` gates on the rounded score
    // sum (e^threshold is not rational) and inherits the display
    // columns' boundary caveat; callers wanting a custom threshold with
    // the exact set guarantee use recordLinkageLrOf's rational p/q gate.
    val d38 = "DECIMAL(38,0)"
    val E12 = "1000000000000"
    def fieldW(f: String): DataFrame =
      recs.groupBy(col(f)).agg(count(lit(1)).as("c"))
        .agg(sum(expr(s"CAST(c AS $d38) * c")).as("sq"),
          sum(col("c")).cast("decimal(38,0)").as("n"))
        .select(expr(s"CAST(sq * $E12 div (n * n) AS $d38)").as("u12"))
        .select(
          col("u12").as(s"u12_$f"),
          expr(s"CAST(round(ln(950000000000 / CAST(greatest(u12, 1) AS DOUBLE)) * 1000000) AS BIGINT)")
            .as(s"wa_$f"),
          expr(s"CASE WHEN u12 >= $E12 THEN 0L " +
            s"ELSE CAST(round(ln(50000000000 / CAST($E12 - u12 AS DOUBLE)) * 1000000) AS BIGINT) END")
            .as(s"wd_$f"))
    val weights = fieldW("f1").crossJoin(fieldW("f2")).crossJoin(fieldW("f3"))
    val winB = org.apache.spark.sql.expressions.Window
      .partitionBy("block").orderBy(col("sk"), col("id"))
    val capped = recs
      .withColumn("sk", md5(concat(lit("d24:"), col("id").cast("string"))))
      .withColumn("rk", row_number().over(winB))
      .filter(col("rk") <= cap).drop("sk", "rk")
    val a = capped.select(col("block"), col("id").as("id_a"),
      col("f1").as("f1a"), col("f2").as("f2a"), col("f3").as("f3a"))
    val b = capped.select(col("block"), col("id").as("id_b"),
      col("f1").as("f1b"), col("f2").as("f2b"), col("f3").as("f3b"))
    a.join(b, Seq("block")).filter(col("id_a") < col("id_b"))
      .crossJoin(broadcast(weights))
      .withColumn("n_agree",
        (when(col("f1a") === col("f1b"), 1L).otherwise(0L) +
          when(col("f2a") === col("f2b"), 1L).otherwise(0L) +
          when(col("f3a") === col("f3b"), 1L).otherwise(0L)))
      .withColumn("score_e6",
        (when(col("f1a") === col("f1b"), col("wa_f1")).otherwise(col("wd_f1")) +
          when(col("f2a") === col("f2b"), col("wa_f2")).otherwise(col("wd_f2")) +
          when(col("f3a") === col("f3b"), col("wa_f3")).otherwise(col("wd_f3"))))
      .withColumn("lr_num", expr(Seq("f1", "f2", "f3").map(f =>
        s"CAST(CASE WHEN ${f}a = ${f}b THEN 950000000000 " +
          s"WHEN u12_$f >= $E12 THEN 1 ELSE 50000000000 END AS $d38)")
        .mkString(" * ")))
      .withColumn("lr_den", expr(Seq("f1", "f2", "f3").map(f =>
        s"CAST(CASE WHEN ${f}a = ${f}b THEN u12_$f " +
          s"WHEN u12_$f >= $E12 THEN 1 ELSE $E12 - u12_$f END AS $d38)")
        .mkString(" * ")))
  }

  /** Registry instance over the customer fixture's available fields:
    * blocks = nation; f1 = market segment, f2 = $1000 balance bucket,
    * f3 = the balance's last cents digit (a near-uniform weak field).
    * The +100000-cent offset keeps the bucket/digit operands positive
    * so Spark `div`/`%` (trunc) and DuckDB `//`/`%` (floor) agree. */
  private def d24Recs(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").as("id"),
      col("c_nationkey").cast("string").as("block"),
      col("c_mktsegment").as("f1"),
      expr(s"CAST((${graft.ops.Money.centsSql("c_acctbal")} + 100000) div 100000 AS STRING)").as("f2"),
      expr(s"CAST((${graft.ops.Money.centsSql("c_acctbal")} + 100000) % 10 AS STRING)").as("f3"))

  val d24: Q = (s, d) => recordLinkageOf(d24Recs(s, d))

  /** D27: record linkage at a CUSTOM exact rational LR threshold — the
    * registry face of [[recordLinkageLrOf]], cross-engine-verifying the
    * round-16 limb-comparison gate itself (the d24 default gate only
    * exercises LR ≥ 1). Threshold e² ≈ 739/100 (a ln-scale cut of 2):
    * keeps pairs whose exact integer likelihood ratio is ≥ 7.39. The
    * DuckDB oracle mirrors the SAME 10¹⁸-radix hi/lo comparison in
    * HUGEINT (a naive lr_den·739 would overflow HUGEINT's ~1.7e38 just
    * as it overflowed DECIMAL(38,0)), so both engines decide boundary
    * pairs by identical integer arithmetic — no transcendental anywhere. */
  val d27: Q = (s, d) => recordLinkageLrOf(d24Recs(s, d), cap = 40,
    lrNum = 739L, lrDen = 100L)

  private val d24Ctes: String =
    """WITH recs AS (
      |  SELECT c_custkey AS id,
      |         c_nationkey::VARCHAR AS block,
      |         c_mktsegment AS f1,
      |         ((CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000)::VARCHAR AS f2,
      |         ((CAST(round(c_acctbal * 100) AS BIGINT) + 100000) % 10)::VARCHAR AS f3
      |  FROM customer),
      |w1 AS (
      |  SELECT u12 AS u12_f1,
      |         CAST(round(ln(950000000000 / CAST(greatest(u12, 1) AS DOUBLE)) * 1000000) AS BIGINT) AS wa_f1,
      |         CASE WHEN u12 >= 1000000000000 THEN 0
      |              ELSE CAST(round(ln(50000000000 / CAST(1000000000000 - u12 AS DOUBLE)) * 1000000) AS BIGINT) END AS wd_f1
      |  FROM (SELECT sq * 1000000000000 // (n * n) AS u12
      |        FROM (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq, CAST(sum(c) AS HUGEINT) AS n
      |              FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM recs GROUP BY f1)))),
      |w2 AS (
      |  SELECT u12 AS u12_f2,
      |         CAST(round(ln(950000000000 / CAST(greatest(u12, 1) AS DOUBLE)) * 1000000) AS BIGINT) AS wa_f2,
      |         CASE WHEN u12 >= 1000000000000 THEN 0
      |              ELSE CAST(round(ln(50000000000 / CAST(1000000000000 - u12 AS DOUBLE)) * 1000000) AS BIGINT) END AS wd_f2
      |  FROM (SELECT sq * 1000000000000 // (n * n) AS u12
      |        FROM (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq, CAST(sum(c) AS HUGEINT) AS n
      |              FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM recs GROUP BY f2)))),
      |w3 AS (
      |  SELECT u12 AS u12_f3,
      |         CAST(round(ln(950000000000 / CAST(greatest(u12, 1) AS DOUBLE)) * 1000000) AS BIGINT) AS wa_f3,
      |         CASE WHEN u12 >= 1000000000000 THEN 0
      |              ELSE CAST(round(ln(50000000000 / CAST(1000000000000 - u12 AS DOUBLE)) * 1000000) AS BIGINT) END AS wd_f3
      |  FROM (SELECT sq * 1000000000000 // (n * n) AS u12
      |        FROM (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq, CAST(sum(c) AS HUGEINT) AS n
      |              FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM recs GROUP BY f3)))),
      |capped AS (
      |  SELECT block, id, f1, f2, f3 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY block
      |      ORDER BY md5('d24:' || id::VARCHAR), id) AS rk
      |    FROM recs) WHERE rk <= 40),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |         CAST((CASE WHEN a.f1 = b.f1 THEN 1 ELSE 0 END) +
      |              (CASE WHEN a.f2 = b.f2 THEN 1 ELSE 0 END) +
      |              (CASE WHEN a.f3 = b.f3 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
      |         (CASE WHEN a.f1 = b.f1 THEN wa_f1 ELSE wd_f1 END) +
      |         (CASE WHEN a.f2 = b.f2 THEN wa_f2 ELSE wd_f2 END) +
      |         (CASE WHEN a.f3 = b.f3 THEN wa_f3 ELSE wd_f3 END) AS score_e6,
      |         (CASE WHEN a.f1 = b.f1 THEN CAST(950000000000 AS HUGEINT)
      |               WHEN u12_f1 >= 1000000000000 THEN 1 ELSE 50000000000 END) *
      |         (CASE WHEN a.f2 = b.f2 THEN CAST(950000000000 AS HUGEINT)
      |               WHEN u12_f2 >= 1000000000000 THEN 1 ELSE 50000000000 END) *
      |         (CASE WHEN a.f3 = b.f3 THEN CAST(950000000000 AS HUGEINT)
      |               WHEN u12_f3 >= 1000000000000 THEN 1 ELSE 50000000000 END) AS lr_num,
      |         (CASE WHEN a.f1 = b.f1 THEN CAST(u12_f1 AS HUGEINT)
      |               WHEN u12_f1 >= 1000000000000 THEN 1 ELSE 1000000000000 - u12_f1 END) *
      |         (CASE WHEN a.f2 = b.f2 THEN CAST(u12_f2 AS HUGEINT)
      |               WHEN u12_f2 >= 1000000000000 THEN 1 ELSE 1000000000000 - u12_f2 END) *
      |         (CASE WHEN a.f3 = b.f3 THEN CAST(u12_f3 AS HUGEINT)
      |               WHEN u12_f3 >= 1000000000000 THEN 1 ELSE 1000000000000 - u12_f3 END) AS lr_den
      |  FROM capped a JOIN capped b ON a.block = b.block AND a.id < b.id
      |  CROSS JOIN w1 CROSS JOIN w2 CROSS JOIN w3)""".stripMargin

  val d24Sql: String =
    s"""$d24Ctes
       |SELECT id_a, id_b, n_agree, score_e6 FROM pairs
       |WHERE lr_num >= lr_den ORDER BY id_a, id_b""".stripMargin

  /** d27's oracle: the identical 1e18-radix limb comparison in HUGEINT —
    * hi/lo of lr_num·100 vs lr_den·739, lexicographic. */
  val d27Sql: String = {
    val S = "1000000000000000000"
    def limbs(prod: String, t: Long): (String, String) = {
      val lo = s"(($prod % $S) * $t)"
      (s"(($prod // $S) * $t + $lo // $S)", s"($lo % $S)")
    }
    val (aHi, aLo) = limbs("lr_num", 100L)
    val (bHi, bLo) = limbs("lr_den", 739L)
    s"""$d24Ctes
       |SELECT id_a, id_b, n_agree, score_e6 FROM pairs
       |WHERE $aHi > $bHi OR ($aHi = $bHi AND $aLo >= $bLo)
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- D25: soft dedup — down-weight duplicates instead of dropping ----

  /** D25: SoftDeDup weights — instead of KEEPING one member per
    * near-dup cluster (d10) the corpus keeps every document but assigns
    * it sampling weight 1/cluster_size, so each duplicated content unit
    * contributes one document-equivalent of expected training mass
    * (the soft-deduplication alternative: down-weight, don't delete —
    * preserves rare in-cluster variation that hard dedup discards).
    * Output: (doc_id, cluster_size, weight_e6) for EVERY corpus doc;
    * singletons get weight 1e6. Each cluster's canonical member carries
    * the integer-division remainder (1e6 % size) on top of the shared
    * 1e6 div size, so every cluster's weights sum to EXACTLY 1e6 and
    * Σ weight_e6 / 1e6 equals the deduplicated effective corpus size —
    * the same count d10 materializes by deletion. Canonical = the min
    * doc_id PRESENT IN `docs` within the cluster (round-15 advice: keying
    * the remainder on doc_id == cluster_id silently dropped it whenever a
    * caller's docs frame excluded the cluster-id member; the
    * min-present-member rule never loses it). If docs excludes members,
    * cluster_size still reports the FULL cluster size, so present mass is
    * (#present)·(1e6 div size) + remainder < 1e6 — by design: the absent
    * members' shares are genuinely gone. `clusters` must carry
    * (doc_id, cluster_id, n_members). The library entry point
    * ([[graft.api.GraftApi.softDedupWeights]]).
    *
    * Scale: the cluster frame (dedupClustersOf over d3's banded pairs)
    * covers only documents that HAVE a duplicate — a vanishing fraction
    * of a 100 TB corpus — so the LEFT join back to the corpus broadcasts
    * (or shuffles on doc_id, the corpus's natural key); the canonical
    * window runs ONLY over that clustered subset (singletons bypass it
    * map-side); weights are pure integer division, hash-exact
    * cross-engine. */
  private[graft] def softDedupWeightsOf(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val joined = docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id"), col("n_members")),
        Seq("doc_id"), "left")
    val singles = joined.filter(col("cluster_id").isNull)
      .select(col("doc_id"), lit(1L).as("cluster_size"), lit(1000000L).as("weight_e6"))
    val wmin = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    val clustered = joined.filter(col("cluster_id").isNotNull)
      .withColumn("is_canon", col("doc_id") === min(col("doc_id")).over(wmin))
      .withColumn("weight_e6", expr("1000000 div n_members + " +
        "CASE WHEN is_canon THEN 1000000 % n_members ELSE 0L END"))
      .select(col("doc_id"), col("n_members").as("cluster_size"), col("weight_e6"))
    singles.unionByName(clustered)
  }

  val d25: Q = (s, d) =>
    softDedupWeightsOf(corpus(s, d),
      dedupClustersOf(d3Verified(s, d).select(col("id_a"), col("id_b"))))
      .orderBy("doc_id")
  val d25Sql: String =
    s"""WITH RECURSIVE p AS MATERIALIZED ($d3Sql),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION ALL
       |  SELECT id_b, id_a FROM p),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.lbl = e.a),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |w AS (
       |  SELECT cc.id AS doc_id, cc.cluster_id, CAST(sz.n AS BIGINT) AS n_members
       |  FROM cc JOIN (SELECT cluster_id, count(*) AS n
       |                FROM cc GROUP BY cluster_id) sz USING (cluster_id)),
       |$corpusCte,
       |wp AS (
       |  SELECT w.doc_id, w.cluster_id, w.n_members
       |  FROM w JOIN corpus c ON c.doc_id = w.doc_id),
       |canon AS (
       |  SELECT cluster_id, min(doc_id) AS canon_id FROM wp GROUP BY cluster_id)
       |SELECT c.doc_id,
       |       CAST(coalesce(wp.n_members, 1) AS BIGINT) AS cluster_size,
       |       CAST(1000000 // coalesce(wp.n_members, 1)
       |            + CASE WHEN wp.doc_id IS NULL OR wp.doc_id = canon.canon_id
       |                   THEN 1000000 % coalesce(wp.n_members, 1) ELSE 0 END AS BIGINT) AS weight_e6
       |FROM corpus c
       |LEFT JOIN wp ON wp.doc_id = c.doc_id
       |LEFT JOIN canon ON canon.cluster_id = wp.cluster_id
       |ORDER BY c.doc_id""".stripMargin

  // ---- D26: leakage-safe train/eval split ----

  /** D26: dedup-aware (leakage-safe) train/eval split — the split key
    * is the near-dup CLUSTER id, not the document id, so all members of
    * a duplicate cluster land on the SAME side and the eval set can
    * never contain a near-copy of a training document (the train/test
    * contamination a doc-keyed random split silently produces — the
    * same failure class d9/d16's benchmark decontamination guards
    * against, here applied to the corpus's own split). Assignment is
    * the samp1 convention: first 4 salted-md5 hex digits mod 10⁴ <
    * evalBp ⇒ eval — reproducible, map-side, oracle-replayable. The
    * library entry point ([[graft.api.GraftApi.leakageSafeSplit]]).
    *
    * Scale: the cluster frame covers only documents WITH a duplicate,
    * so the LEFT probe is the d25 shape (broadcast or doc_id-keyed
    * shuffle); the hash assignment never leaves the map side. */
  private[graft] def leakageSafeSplitOf(docs: DataFrame, clusters: DataFrame,
      evalBp: Int = 2500): DataFrame =
    docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(conv(substring(md5(concat(lit("d26:"), col("split_key").cast("string"))), 1, 4), 16, 10)
          .cast("long") % 10000 < evalBp, "eval").otherwise("train"))
      .select(col("doc_id"), col("split_key"), col("split"))

  val d26: Q = (s, d) =>
    leakageSafeSplitOf(corpus(s, d),
      dedupClustersOf(d3Verified(s, d).select(col("id_a"), col("id_b"))))
      .orderBy("doc_id")
  val d26Sql: String =
    s"""WITH RECURSIVE p AS MATERIALIZED ($d3Sql),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION ALL
       |  SELECT id_b, id_a FROM p),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.lbl = e.a),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |$corpusCte
       |SELECT c.doc_id,
       |       coalesce(cc.cluster_id, c.doc_id) AS split_key,
       |       CASE WHEN ('0x' || substr(md5('d26:' ||
       |              coalesce(cc.cluster_id, c.doc_id)::VARCHAR), 1, 4))::BIGINT
       |              % 10000 < 2500
       |            THEN 'eval' ELSE 'train' END AS split
       |FROM corpus c LEFT JOIN cc ON cc.id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "d26_leakage_safe_split" -> d26,
    "d25_soft_dedup_weights" -> d25,
    "d24_record_linkage" -> d24,
    "d27_linkage_thresholded" -> d27,
    "d17_ppjoin_pairs" -> d17,
    "d16_fuzzy_decontamination" -> d16,
    "d15_substring_removal" -> d15,
    "d14_substring_dedup" -> d14,
    "d13_incremental_dedup" -> d13,
    "d12_semantic_dedup_corpus" -> d12,
    "d11_edit_distance_pairs" -> d11,
    "d10_deduped_corpus" -> d10,
    "d22_best_keeper" -> d22,
    "d23_dedup_health" -> d23,
    "d1_exact_dedup" -> d1,
    "d2_minhash_signatures" -> d2,
    "d3_minhash_lsh_pairs" -> d3,
    "d4_simhash_signatures" -> d4,
    "d5_simhash_pairs" -> d5,
    "d6_ngram_jaccard_blocked" -> d6,
    "d7_embedding_neardup" -> d7,
    "d8_dedup_clusters" -> d8,
    "d18_cc_largestar" -> d18,
    "d20_containment" -> d20,
    "d21_cross_source_matrix" -> d21,
    "d9_decontamination" -> d9,
  )

  val oracle: Map[String, String] = Map(
    "d26_leakage_safe_split" -> d26Sql,
    "d25_soft_dedup_weights" -> d25Sql,
    "d24_record_linkage" -> d24Sql,
    "d27_linkage_thresholded" -> d27Sql,
    "d17_ppjoin_pairs" -> d17Sql,
    "d16_fuzzy_decontamination" -> d16Sql,
    "d15_substring_removal" -> d15Sql,
    "d14_substring_dedup" -> d14Sql,
    "d13_incremental_dedup" -> d13Sql,
    "d12_semantic_dedup_corpus" -> d12Sql,
    "d11_edit_distance_pairs" -> d11Sql,
    "d10_deduped_corpus" -> d10Sql,
    "d22_best_keeper" -> d22Sql,
    "d23_dedup_health" -> d23Sql,
    "d1_exact_dedup" -> d1Sql,
    "d2_minhash_signatures" -> d2Sql,
    "d3_minhash_lsh_pairs" -> d3Sql,
    "d4_simhash_signatures" -> d4Sql,
    "d5_simhash_pairs" -> d5Sql,
    "d6_ngram_jaccard_blocked" -> d6Sql,
    "d7_embedding_neardup" -> d7Sql,
    "d8_dedup_clusters" -> d8Sql,
    "d18_cc_largestar" -> d18Sql,
    "d20_containment" -> d20Sql,
    "d21_cross_source_matrix" -> d21Sql,
    "d9_decontamination" -> d9Sql,
  )
}
