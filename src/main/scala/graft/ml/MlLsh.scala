package graft.ml

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, CountVectorizer, MinHashLSH, NGram, Normalizer, Tokenizer}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** MLlib-native similarity operators (SURVEY §7.8 names these directly):
  * `ml.feature.MinHashLSH` over token-set vectors for near-dup joins,
  * `BucketedRandomProjectionLSH` + `Normalizer` over embeddings for
  * approximate cosine neighbors, and `ml.feature.NGram` for shingling.
  * These complement the hand-built md5-LSH queries (graft.ops.Dedup /
  * Similarity): the hand-built ones are oracle-checkable; these are the
  * stock-MLlib path a Spark shop would reach for first. Hashes are
  * engine-defined but SEEDED, so since round 15 both LSH entries are
  * hash-checked against sf0.01-frozen goldens, on top of the recall and
  * d3/sim1 cross-check assertions in `MlLshSpec`.
  */
object MlLsh {
  type Q = (SparkSession, String) => DataFrame

  private val Seed = 42L

  /** T8: ml.feature.NGram word 3-grams — verified through explode like T3.
    * Matches the hand-built shingle format (space-joined). */
  val t8: Q = (s, d) => {
    val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
    val ng = new NGram().setN(3).setInputCol("words").setOutputCol("ngrams")
    val in = Tables.documents(s, d).select(col("doc_id"), col("text"))
    ng.transform(tok.transform(in))
      .select(explode(col("ngrams")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("n"))
      .orderBy("shingle")
  }
  // oracle: 3-grams of the lowercase \s-split tokens, space-joined.
  // Trailing whitespace is stripped BEFORE the split: Java's split("\\s")
  // (what ml.Tokenizer runs) drops trailing empty tokens while DuckDB's
  // regexp_split_to_array keeps them — interior empties are kept by both.
  val t8Sql: String =
    """SELECT shingle, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT unnest([array_to_string(toks[i+1:i+3], ' ')
      |                 for i in range(greatest(len(toks) - 2, 0))]) AS shingle
      |  FROM (SELECT regexp_split_to_array(regexp_replace(lower(text), '\s+$', ''), '\s') AS toks
      |        FROM documents))
      |GROUP BY shingle ORDER BY shingle""".stripMargin

  /** Token-set vectors for MinHashLSH (CountVectorizer binary=true).
    * `private[graft]` so MlLshSpec can band them independently. */
  private[graft] def tokenVectors(s: SparkSession, d: String): DataFrame =
    tokenVectorsOf(Tables.documents(s, d))

  /** Frame-based twin of [[tokenVectors]] over any (doc_id, text) frame —
    * the hook the d3 cross-check spec feeds planted fixtures through. */
  private[graft] def tokenVectorsOf(in: DataFrame): DataFrame = {
    val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
    val docs = tok.transform(in.select(col("doc_id"), col("text")))
    val cv = new CountVectorizer().setInputCol("words").setOutputCol("features")
      .setBinary(true).fit(docs)
    cv.transform(docs).select(col("doc_id"), col("features"))
      // MinHashLSH requires at least one non-zero entry. CountVectorizer
      // never yields NULL — the real failure mode is an ALL-ZERO vector
      // (every token of a doc truncated out of the vocabSize cap), so the
      // guard must test numNonzeros, not nullness.
      .filter((r: org.apache.spark.sql.Row) =>
        r.getAs[org.apache.spark.ml.linalg.Vector]("features").numNonzeros > 0)
  }

  // LSH1 banding/skew parameters: 12 stock MinHash tables re-read as
  // 3 bands × 4 rows (AND within a band, OR across bands), and any band
  // bucket wider than MaxBucket rows is SKIPPED — same pattern as the
  // hand-built d5 (ops/Dedup.scala MaxBucket). Giant buckets on this
  // shared-vocabulary corpus are identical-token-set super-clusters; those
  // are exact dedup's job (d1), and joining inside them recreates the
  // O(n²) pair space LSH exists to avoid. The cap makes the candidate
  // count provably ≤ NumBands · n · (MaxBucket-1) / 2 — linear in n.
  private[ml] val Lsh1NumTables = 12
  private[ml] val Lsh1BandRows = 4
  private[ml] val Lsh1NumBands = Lsh1NumTables / Lsh1BandRows
  private[ml] val Lsh1MaxBucket = 50

  /** The (doc_id, band, bk) band-key frame lsh1 equi-joins on —
    * deterministic for a given input (MinHashLSH is seeded), so the spec
    * recomputes it independently to find which buckets are under the cap
    * for the planted-recall assertion. */
  private[graft] def lsh1BandsOf(vecs: DataFrame): DataFrame = {
    import org.apache.spark.ml.linalg.{Vector => MlVector}
    val mh = new MinHashLSH().setNumHashTables(Lsh1NumTables)
      .setInputCol("features").setOutputCol("hashes").setSeed(Seed)
    val model = mh.fit(vecs)
    // pack each band's 4 hash values into one equi-join key
    val bandKey = udf((hs: Seq[MlVector], b: Int) =>
      (0 until Lsh1BandRows).map(i => hs(b * Lsh1BandRows + i)(0).toLong).mkString(":"))
    val hashed = model.transform(vecs).select(col("doc_id"), col("hashes"))
    (0 until Lsh1NumBands).map(b =>
        hashed.select(col("doc_id"), lit(b).as("band"), bandKey(col("hashes"), lit(b)).as("bk")))
      .reduce(_ unionAll _)
  }

  /** LSH1 candidate pairs with exact Jaccard distance: stock
    * `ml.feature.MinHashLSH` for the hash family, hand-banded candidate
    * join with the degenerate-bucket cap above instead of MLlib's uncapped
    * `approxSimilarityJoin` (which, OR-amplified over single-hash buckets,
    * degenerates to a near-cartesian self-join on this corpus — round ≤6
    * bounded the INPUT by 1/5 sampling, a crutch this replaces; the full
    * corpus now flows through). Distance is the same measure MLlib's
    * `keyDistance` computes: 1 - |A∩B| / |A∪B| over non-zero indices.
    *
    * CACHE HYGIENE (round-8 advice): two intermediate frames (`vecs`,
    * `bands`) are persisted because each feeds ≥2 consumers. The result
    * is materialized HERE (eager checkpoint) and both intermediates are
    * unpersisted before returning, so library callers get a
    * self-contained frame and owe no clearCache(). The ONE remaining
    * pinned block backs the returned pairs themselves — Spark never
    * GC-frees checkpoint blocks in-process (the round-13 probe; the
    * round-8 "ContextCleaner frees it" claim was wrong), so a long-lived
    * session frees it with [[graft.api.GraftApi.releasePinned]]. */
  private[ml] def lsh1Pairs(s: SparkSession, d: String): DataFrame =
    lsh1PairsOf(tokenVectors(s, d))

  /** Frame-based core of [[lsh1Pairs]] over a (doc_id, features) token-set
    * vector frame — lets the cross-check spec run the MLlib path and the
    * in-house d3 path over the SAME planted fixture. */
  private[graft] def lsh1PairsOf(vecsIn: DataFrame): DataFrame = {
    import org.apache.spark.ml.linalg.{Vector => MlVector}
    // persist: the vectors feed the fit, the band projection, AND the
    // two feature lookups of the pair join — uncached, the
    // tokenize+vectorize pipeline reruns per consumer
    val vecs = vecsIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = lsh1BandsOf(vecs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ok = bands.groupBy("band", "bk").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= Lsh1MaxBucket).select("band", "bk")
    val bounded = bands.join(ok, Seq("band", "bk"))
    val cand = bounded.as("a").join(bounded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // exact Jaccard distance over the binary token vectors (two-pointer
    // over sorted sparse indices; ml Vector type ⇒ UDF is the only option)
    val jaccardDist = udf((a: MlVector, b: MlVector) => {
      val ia = a.toSparse.indices; val ib = b.toSparse.indices
      var i = 0; var j = 0; var inter = 0
      while (i < ia.length && j < ib.length) {
        if (ia(i) == ib(j)) { inter += 1; i += 1; j += 1 }
        else if (ia(i) < ib(j)) i += 1
        else j += 1
      }
      1.0 - inter.toDouble / (ia.length + ib.length - inter)
    })
    val pairs = cand
      .join(vecs.select(col("doc_id").as("id_a"), col("features").as("fa")), Seq("id_a"))
      .join(vecs.select(col("doc_id").as("id_b"), col("features").as("fb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccardDist(col("fa"), col("fb")).as("jaccard_dist"))
    val (out, _) = graft.ops.Pinned.checkpoint(pairs) // eager: pins the result so the inputs can unpin
    vecs.unpersist()
    bands.unpersist()
    out
  }

  /** LSH1: MinHashLSH near-dup candidates at Jaccard distance ≤ 0.3. The
    * pair space on this shared-vocab corpus is dense, so emit the distance
    * histogram, not raw pairs. MinHash perms are seeded (42) and therefore
    * bit-stable per Spark version — hash-checked against the frozen
    * sf0.01 golden `lsh1Sql` since round 15. */
  val lsh1: Q = (s, d) =>
    lsh1Pairs(s, d)
      .filter(col("jaccard_dist") <= 0.3)
      .groupBy(round(col("jaccard_dist"), 1).as("dist_bucket"))
      .agg(count(lit(1)).as("n_pairs"), min(col("id_a")).as("sample_id_a"))
      .orderBy("dist_bucket")

  /** LSH2: BucketedRandomProjectionLSH kNN over L2-normalized embeddings —
    * Euclidean distance on the unit sphere is monotone in cosine, so this
    * is cosine ANN the stock-MLlib way. Seeded (42) ⇒ hash-checked against
    * the frozen sf0.01 golden `lsh2Sql` since round 15. */
  val lsh2: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    val vecs = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, Vectors.dense(e.map(_.toDouble))) }
      .toDF("vec_id", "raw")
    val norm = new Normalizer().setInputCol("raw").setOutputCol("features").setP(2.0)
    // persist: the normalized vectors feed the fit plus one ANN scan per
    // query key — recomputing the decode+normalize per pass dominates cost
    val data = norm.transform(vecs).select("vec_id", "features")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val brp = new BucketedRandomProjectionLSH().setBucketLength(0.5)
      .setNumHashTables(3).setInputCol("features").setOutputCol("hashes").setSeed(Seed)
    val model = brp.fit(data)
    // ONE job fetches the query ids AND their key vectors (was: a collect
    // plus a per-key head() job each)
    val keys = data.filter(col("vec_id") % 100 === 0)
      .orderBy("vec_id").limit(3).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.ml.linalg.Vector]("features"))
    val perKey = keys.map { case (qid, key) =>
      model.approxNearestNeighbors(data.filter(col("vec_id") =!= qid), key, 5)
        .select(lit(qid).as("q_id"), col("vec_id").as("cand_id"),
          round(col("distCol"), 4).as("dist"))
    }
    // a fixture without any %100 vec_id yields zero query keys — return an
    // empty frame instead of crashing reduce on an empty collection
    val res =
      if (perKey.isEmpty)
        data.select(col("vec_id").as("q_id"), col("vec_id").as("cand_id"),
          lit(0.0).as("dist")).limit(0)
      else perKey.reduce(_ unionAll _).orderBy("q_id", "dist", "cand_id")
    // the result is BOUNDED tiny (≤ 3 keys × k rows) — pull it to the
    // driver and rebuild a local frame so `data` can unpin here with
    // nothing left pinned at all (the fitScore convention)
    val rows = res.collect().toSeq
    val out = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), res.schema)
    data.unpersist()
    out
  }

  val queries: Map[String, Q] = Map(
    "t8_ml_ngram" -> t8,
    "lsh1_ml_minhash_join" -> lsh1,
    "lsh2_ml_brp_knn" -> lsh2,
  )

  /** Frozen at sf0.01 by `graft.tools.FreezeSeededGoldens` (round 15; src/test):
    * MinHashLSH/BRP hash families are engine-defined but SEEDED (seed 42),
    * so their outputs are bit-stable per Spark version — the f1c/m1b
    * precedent upgrades them from rows-only to hash-checked. SF-SPECIFIC
    * by construction: at other scales the queries run but these VALUES
    * oracles do not apply (named exclusions in scale artifacts). Any drift
    * in MLlib's hash-coefficient RNG breaks the match loudly. */
  val lsh1Sql: String =
    """SELECT CAST(dist_bucket AS DOUBLE) AS dist_bucket,
      |       CAST(n_pairs AS BIGINT) AS n_pairs,
      |       CAST(sample_id_a AS BIGINT) AS sample_id_a
      |FROM (VALUES
      |      (0.0, 116, 8),
      |      (0.1, 996, 4),
      |      (0.2, 1430, 2),
      |      (0.3, 752, 2))
      |  AS t(dist_bucket, n_pairs, sample_id_a)
      |ORDER BY dist_bucket""".stripMargin

  val lsh2Sql: String =
    """SELECT CAST(q_id AS BIGINT) AS q_id, CAST(cand_id AS BIGINT) AS cand_id,
      |       CAST(dist AS DOUBLE) AS dist
      |FROM (VALUES
      |      (0, 365, 1.1225),
      |      (0, 387, 1.1566),
      |      (0, 423, 1.1858),
      |      (0, 73, 1.1871),
      |      (0, 7, 1.1893),
      |      (100, 398, 1.1328),
      |      (100, 279, 1.1426),
      |      (100, 360, 1.1688),
      |      (100, 478, 1.1765),
      |      (100, 45, 1.181),
      |      (200, 204, 1.0555),
      |      (200, 143, 1.1372),
      |      (200, 410, 1.1809),
      |      (200, 135, 1.2082),
      |      (200, 409, 1.2085))
      |  AS t(q_id, cand_id, dist)
      |ORDER BY q_id, dist, cand_id""".stripMargin

  /** t8 is deterministic (pure token math); lsh1/lsh2 are seeded goldens
    * frozen at the sf0.01 gate (see above). */
  val oracle: Map[String, String] = Map(
    "t8_ml_ngram" -> t8Sql,
    "lsh1_ml_minhash_join" -> lsh1Sql,
    "lsh2_ml_brp_knn" -> lsh2Sql,
  )
}
