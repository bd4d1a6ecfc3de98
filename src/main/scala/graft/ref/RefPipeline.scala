package graft.ref

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.{LinearSVC, NaiveBayes}
import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** End-to-end reference pipelines over the reference's OWN corpus format:
  * raw Sentiment140-style CSV lines parsed with the naive positional
  * semantics (P1 comma-dropping stitch — `NB.java:53-64`), cleaned in the
  * NB dialect, then either the hand-rolled NB train/score path (M5/M6) or
  * the MLlib Tokenizer→HashingTF→IDF→{NB, LinearSVC} pipelines that mirror
  * `Spark/NaiveBayes/python/NaiveBayes.py` / `Spark/SVM/python/SVM.py`.
  *
  * This is the "user of the reference switches engines" surface: same
  * input files, same split contract (75/25 seed 1234 for ML;
  * deterministic modulo split for the hand-rolled path), same metrics out.
  *
  * Scale: the raw scan is `spark.read.text` (splittable, no quote parsing
  * to serialize) and all parsing is Catalyst expressions — at 100 TB this
  * is a pure map stage reaching the line reader's parallelism.
  */
object RefPipeline {

  /** Parse raw reference CSV lines → (id, label double 0/1, text). */
  def parse(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(TextOps.csvSplitStitch(col("value")).as("r"))
      .select(col("r.id").as("id"),
        TextOps.normLabel(col("r.label")).as("label"),
        col("r.text").as("text"))

  /** Cleaned + deterministically split corpus (hand-rolled path). */
  def cleaned(spark: SparkSession, path: String): DataFrame =
    parse(spark, path).select(col("id"), col("label"),
      (crc32(col("id")) % 4 =!= 0).as("is_train"),
      TextOps.cleanNb(col("text")).as("clean"))

  /** Hand-rolled NB (A1+A2 train, J1+M6 log-space score, A4/A6 metrics)
    * on the reference corpus; returns the 1-row metrics DataFrame. */
  def handRolledNb(spark: SparkSession, path: String): DataFrame = {
    val docs = cleaned(spark, path)
    val toks = docs.filter(length(trim(col("clean"))) > 0)
      .select(col("id"), col("label"), col("is_train"),
        explode(TextOps.tokenizeSpace(col("clean"))).as("word"))
    val train = toks.filter(col("is_train"))
    val model = train.groupBy("word").agg(
      sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("pos"),
      sum(when(col("label") === 1.0, 0L).otherwise(1L)).as("neg"))
    val docsAgg = docs.filter(col("is_train")).agg(
      count(lit(1)).as("tweets"),
      sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("pos_tweets"),
      sum(when(col("label") === 1.0, 0L).otherwise(1L)).as("neg_tweets"))
    val wordsAgg = train.agg(
      sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("pos_words"),
      sum(when(col("label") === 1.0, 0L).otherwise(1L)).as("neg_words"),
      countDistinct(col("word")).as("features"))
    val stats = docsAgg.crossJoin(wordsAgg)
    val perDoc = toks.filter(!col("is_train"))
      .join(broadcast(model), "word")
      .groupBy("id")
      .agg(sum(log(col("pos") + lit(1.0))).as("sp"),
        sum(log(col("neg") + lit(1.0))).as("sn"),
        count(lit(1)).as("n"))
    val margin =
      (coalesce(col("sp"), lit(0.0))
        - coalesce(col("n"), lit(0L)) * log(col("pos_words") + col("features"))
        + log(nullif(col("pos_tweets"), lit(0L)) / col("tweets"))) -
      (coalesce(col("sn"), lit(0.0))
        - coalesce(col("n"), lit(0L)) * log(col("neg_words") + col("features"))
        + log(nullif(col("neg_tweets"), lit(0L)) / col("tweets")))
    val scored = docs.filter(!col("is_train"))
      .join(perDoc, Seq("id"), "left")
      .crossJoin(broadcast(stats))
      .select(col("label"), when(margin > 0, 1.0).otherwise(0.0).as("prediction"))
    metricsOf(scored)
  }

  /** MLlib pipeline (`NaiveBayes.py` / `SVM.py` mirror): Tokenizer →
    * HashingTF(2^18) → IDF → estimator; randomSplit(0.75/0.25, seed 1234). */
  def mlPipeline(spark: SparkSession, path: String, svm: Boolean): DataFrame = {
    val data = parse(spark, path)
      .select(col("label"), TextOps.cleanNb(col("text")).as("tweet"))
    val tok = new Tokenizer().setInputCol("tweet").setOutputCol("words")
    val tf = new HashingTF().setInputCol("words").setOutputCol("rawFeatures")
    val idf = new IDF().setInputCol("rawFeatures").setOutputCol("features")
    val prep = new Pipeline().setStages(Array(tok, tf, idf)).fit(data).transform(data)
      .select("label", "features")
    val Array(train, test) = prep.randomSplit(Array(0.75, 0.25), seed = 1234L)
    // summary-free copy for the same reason as MlPipelines.fitScore: the
    // LinearSVC training summary holds a SparkSession, which stops
    // serializing once anything in the JVM has used Dataset.observe
    train.cache()
    val model: org.apache.spark.ml.Model[_] =
      if (svm) new LinearSVC().setMaxIter(10).setRegParam(0.1).fit(train)
        .copy(org.apache.spark.ml.param.ParamMap.empty)
      else new NaiveBayes().fit(train)
        .copy(org.apache.spark.ml.param.ParamMap.empty)
    // the metrics frame reads only `test` and the fitted model. Blocking,
    // so the block removal finishes here instead of overlapping the
    // metrics job and the caller's next query
    train.unpersist(blocking = true)
    metricsOf(model.transform(test).select("prediction", "label"))
  }

  /** Confusion counts + accuracy/precision/recall/F1 (A4/A6). */
  def metricsOf(scored: DataFrame): DataFrame =
    scored.agg(
      sum(when(col("prediction") === 1.0 && col("label") === 1.0, 1L).otherwise(0L)).as("tp"),
      sum(when(col("prediction") === 1.0 && col("label") === 0.0, 1L).otherwise(0L)).as("fp"),
      sum(when(col("prediction") === 0.0 && col("label") === 0.0, 1L).otherwise(0L)).as("tn"),
      sum(when(col("prediction") === 0.0 && col("label") === 1.0, 1L).otherwise(0L)).as("fn"))
    .select(col("tp"), col("fp"), col("tn"), col("fn"),
      ((col("tp") + col("tn")) / nullif(col("tp") + col("fp") + col("tn") + col("fn"), lit(0L))).as("accuracy"),
      (col("tp") / nullif(col("tp") + col("fp"), lit(0L))).as("precision"),
      (col("tp") / nullif(col("tp") + col("fn"), lit(0L))).as("recall"),
      ((lit(2L) * col("tp")) / nullif(lit(2L) * col("tp") + col("fp") + col("fn"), lit(0L))).as("f1"))

  /** Bug-compatible NB scoring mode (SURVEY M6 quirk): PRODUCT-space
    * probabilities that underflow to 0.0 on long texts, strict-`>` tie →
    * NEGATIVE — reproduces `NB.java:190-250` exactly for parity testing. */
  def handRolledNbProductMode(spark: SparkSession, path: String): DataFrame = {
    val docs = cleaned(spark, path)
    val toks = docs.filter(length(trim(col("clean"))) > 0)
      .select(col("id"), col("label"), col("is_train"),
        explode(TextOps.tokenizeSpace(col("clean"))).as("word"))
    val train = toks.filter(col("is_train"))
    val model = train.groupBy("word").agg(
      sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("pos"),
      sum(when(col("label") === 1.0, 0L).otherwise(1L)).as("neg"))
    val wordsAgg = train.agg(
      sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("pos_words"),
      sum(when(col("label") === 1.0, 0L).otherwise(1L)).as("neg_words"),
      countDistinct(col("word")).as("features"))
    val docsAgg = docs.filter(col("is_train")).agg(
      count(lit(1)).as("tweets"),
      sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("pos_tweets"),
      sum(when(col("label") === 1.0, 0L).otherwise(1L)).as("neg_tweets"))
    // product of per-word probabilities — exp(sum(log)) would NOT reproduce
    // the underflow; use product aggregation via exp(sum(ln)) per partial?
    // No: true row-at-a-time product, as the reference multiplies doubles.
    // Spark has no product agg; fold per doc via collect_list is unscalable.
    // Instead: underflow occurs iff log-prob sum < ln(Double.MinValue); emit
    // the product via exp() with explicit underflow-to-zero semantics.
    val perDoc = toks.filter(!col("is_train"))
      .join(broadcast(model), "word")
      .groupBy("id")
      .agg(sum(log((col("pos") + lit(1.0)))).as("slp"),
        sum(log((col("neg") + lit(1.0)))).as("sln"),
        count(lit(1)).as("n"))
    val scored = docs.filter(!col("is_train"))
      .join(perDoc, Seq("id"), "left")
      .crossJoin(broadcast(docsAgg.crossJoin(wordsAgg)))
      .select(col("id"), col("label"),
        // prob_c = exp(Σln p_i) · prior; exp underflows to 0.0 below ~-745,
        // matching the reference's product-space collapse on long texts
        (exp(coalesce(col("slp"), lit(0.0))
          - coalesce(col("n"), lit(0L)) * log(col("pos_words") + col("features")))
          * (col("pos_tweets") / col("tweets"))).as("p_pos"),
        (exp(coalesce(col("sln"), lit(0.0))
          - coalesce(col("n"), lit(0L)) * log(col("neg_words") + col("features")))
          * (col("neg_tweets") / col("tweets"))).as("p_neg"))
      .select(col("id"), col("label"),
        when(col("p_pos") > col("p_neg"), 1.0).otherwise(0.0).as("prediction"),
        col("p_pos"), col("p_neg"))
    scored
  }
}
