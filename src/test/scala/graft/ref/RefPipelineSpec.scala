package graft.ref

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** Golden end-to-end on a seeded Sentiment140-positional fixture — SURVEY
  * §5. `graftbench.Gen.sentimentCsv` (the benchmark's generator, compiled
  * into the tests by build.sbt) writes 8,000 tweets as 4 part files. They
  * carry every quirk the parser and cleaner handle: quoted text with inner
  * commas, HTML entities, mentions, hashtags, URLs, digits, tweets empty
  * after cleaning, and both labels. The goldens are exact counts on that
  * fixture, so a change to parse, clean, split, featurize or fit moves
  * them. The fixture is not Sentiment140: accuracy parity with the
  * published numbers (BASELINE.md) is not asserted here. */
class RefPipelineSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val dir = Files.createTempDirectory("graft_refpipe")
  private lazy val Corpus = dir.resolve("tweets").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    graftbench.Gen.sentimentCsv(seed = 14L, n = 8000, parts = 4, dir.resolve("tweets"))
  }

  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(dir.toFile) finally super.afterAll()

  /** The hand-rolled NB's (tp, fp, tn, fn) on the fixture's 2,000 test tweets. */
  private val HandNb = (711L, 332L, 715L, 242L)

  /** (tp, fp, tn, fn) of a metrics row. */
  private def confusion(m: Row): (Long, Long, Long, Long) =
    (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3))

  test("parse: every line is a row, both labels, the empty-after-clean tweets") {
    val df = RefPipeline.parse(spark, Corpus)
    assert(df.count() === 8000L)
    val labels = df.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(labels === Map(0.0 -> 4026L, 1.0 -> 3974L))
    // the generator's mention/url/digits-only tweets clean to ""
    assert(RefPipeline.cleaned(spark, Corpus)
      .filter(length(trim(col("clean"))) === 0).count() === 157L)
  }

  test("hand-rolled NB (log-space): exact confusion counts") {
    assert(confusion(RefPipeline.handRolledNb(spark, Corpus).head()) === HandNb)
  }

  test("MLlib NB pipeline: exact confusion counts") {
    assert(confusion(RefPipeline.mlPipeline(spark, Corpus, svm = false).head()) ===
      ((646L, 290L, 729L, 285L)))
  }

  test("MLlib LinearSVC pipeline: exact confusion counts") {
    assert(confusion(RefPipeline.mlPipeline(spark, Corpus, svm = true).head()) ===
      ((695L, 342L, 677L, 236L)))
  }

  test("product-mode (bug-compatible) scoring agrees with log-space on every test tweet") {
    val prod = RefPipeline.handRolledNbProductMode(spark, Corpus)
    // tweets are short: no product underflows, so the quirk mode scores
    // all 2,000 test tweets exactly as log-space does
    assert(prod.count() === 2000L)
    assert(prod.filter(col("p_pos") === 0.0 && col("p_neg") === 0.0).count() === 0L)
    assert(confusion(RefPipeline.metricsOf(prod.select("prediction", "label")).head()) === HandNb)
  }
}
