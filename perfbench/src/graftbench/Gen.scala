package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the benchmark feeds graft comes
  * from here; the program under test never sees anything else.
  *
  *  - [[sentimentCsv]]: synthetic Sentiment140-positional CSV
  *    (`id,label,Sentiment140,text`). It is a fixture shaped like the
  *    paper's corpus, not the Sentiment140 replay, so no ratio against the
  *    published PySpark times is ever derived from it.
  *  - [[baseDocs]] / [[baseTables]]: fixed (seed-independent) tables
  *    with the sf0.1 shapes: 2,500 documents (the sf0.1 text shape; the
  *    corpus doubles them), 2,000 64-dim embeddings and 600,000 lineitem
  *    rows for the registry's q1.
  *  - [[curationCorpus]]: the base documents plus seed-salted word-
  *    permutation replicas (the GenScale rule) plus planted near-duplicate
  *    families at a seeded edit rate.
  */
object Gen {

  /** Vocabulary of the base documents (the sf0.1 `documents` vocabulary). */
  val DocVocab: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  private val Pos = Array("love", "great", "happy", "awesome", "good", "nice", "fun",
    "thanks", "best", "cool", "glad", "excited", "yay", "lol", "sweet", "amazing")
  private val Neg = Array("sad", "hate", "bad", "sick", "tired", "miss", "sorry",
    "ugh", "worst", "hurts", "bored", "lost", "broken", "cry", "stuck", "rain")
  private val Neutral = Array("today", "work", "just", "going", "home", "the", "a",
    "is", "to", "my", "day", "night", "time", "now", "with", "you", "so", "and",
    "school", "back", "morning", "weekend", "movie", "friends", "lunch", "train")

  // ---- Sentiment140-positional CSV ----

  /** `n` lines with ids `1_000_000 + i`. Covers every quirk the reference
    * parser relies on: quoted text with inner commas (the comma-dropping
    * stitch), `&quot;`/`&lt;`/`&amp;` entities, mentions, hashtags, URLs,
    * digits, rows that are empty after cleaning, and both labels. */
  def tweets(seed: Long, n: Int): Array[String] = {
    val r = new SplittableRandom(seed * 1000003L + 17L)
    def pick(a: Array[String]) = a(r.nextInt(a.length))
    Array.tabulate(n) { i =>
      val id = 1000000L + i
      val label = r.nextInt(2)
      val text =
        if (r.nextInt(50) == 0)
          // nothing survives the NB clean: mention, url, digits only
          s"@user${r.nextInt(9999)} http://t.co/x${r.nextInt(99999)} ${r.nextInt(999)}"
        else {
          val words = scala.collection.mutable.ArrayBuffer.empty[String]
          val len = 4 + r.nextInt(14)
          (0 until len).foreach { _ =>
            val u = r.nextInt(10)
            words += (if (u < 2) pick(if (label == 1) Pos else Neg)
                      else if (u < 3) pick(if (label == 1) Neg else Pos)
                      else pick(Neutral))
          }
          def insert(tok: String): Unit = words.insert(r.nextInt(words.length + 1), tok)
          if (r.nextInt(10) < 3) insert(s"@${pick(Neutral)}${r.nextInt(999)}")
          if (r.nextInt(10) < 1) insert(s"#${pick(Pos ++ Neg)}")
          if (r.nextInt(100) < 15)
            insert(if (r.nextBoolean()) s"http://bit.ly/${pick(Neutral)}${r.nextInt(9999)}"
                   else s"www.${pick(Neutral)}site.com/p${r.nextInt(99)}")
          if (r.nextInt(10) < 2) insert(s"${r.nextInt(2030)}")
          if (r.nextInt(10) < 1)
            insert(if (r.nextBoolean()) s"&quot;${pick(Neutral)}&quot;" else "&lt;3")
          if (r.nextInt(20) < 1) insert("&amp;")
          val body = words.mkString(" ")
          if (r.nextInt(10) == 0) {
            // quoted field with inner commas, never unquoted by the parser
            val cut = words.length / 2
            "\"" + words.take(cut).mkString(" ") + ", " + words.drop(cut).mkString(" ") + ",!\""
          } else body
        }
      s"$id,$label,Sentiment140,$text"
    }
  }

  /** Writes the lines as `parts` CSV files under `dir`, in order. One file
    * of this size is one input split (it is below Spark's 4 MB open cost),
    * so every stage would run as one task on one core; a part per core
    * gives the scan, and every stage after it, one task per core. */
  def sentimentCsv(seed: Long, n: Int, parts: Int, dir: Path): Unit = {
    Files.createDirectories(dir)
    val lines = tweets(seed, n)
    val per = (n + parts - 1) / parts
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(dir.resolve(f"part-$i%05d.csv"),
        chunk.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  // ---- base tables (sf0.1 shapes, fixed seed) ----

  val BaseSeed = 42L
  val NDocs = 2500
  val NVecs = 2000
  val NLineitem = 600000

  private val Langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de")

  /** (doc_id, text, lang, source, n_chars) rows of the base documents. */
  def baseDocs(): Array[Row] = {
    val r = new SplittableRandom(BaseSeed)
    val rows = Array.tabulate(NDocs) { i =>
      val len = 8 + r.nextInt(78)
      val text = Array.fill(len)(DocVocab(r.nextInt(DocVocab.length))).mkString(" ")
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 10}", text.length.toLong)
    }
    // a handful of exact duplicates, as in the sf0.1 corpus
    (0 until 8).foreach { j =>
      val src = rows(j * 97)
      val at = NDocs / 2 + j * 13
      rows(at) = Row(at.toLong, src.getString(1), rows(at).getString(2),
        rows(at).getString(3), src.getLong(4))
    }
    rows
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType, nullable = false)))

  /** Writes `embeddings` (2,000 64-dim vectors around ten label centroids)
    * and `lineitem` (600,000 rows, the registry's q1 input) as parquet. */
  def baseTables(spark: SparkSession, dir: Path): Unit = {
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(dir.resolve(s"$t.parquet").toString)
    def h(c: String, salt: Int, m: Long) = pmod(xxhash64(col(c), lit(salt)), lit(m))
    val day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay
    wr(spark.range(0, NLineitem.toLong).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (h("id", 11, 20000) + 1).as("l_partkey"),
      (h("id", 12, 1000) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h("id", 13, 50) + 1).cast("double").as("l_quantity"),
      (h("id", 14, 10000000) / 100.0 + 900.0).as("l_extendedprice"),
      (h("id", 15, 11) / 100.0).as("l_discount"),
      (h("id", 16, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h("id", 17, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (h("id", 18, 2) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_seconds((lit(day0) + h("id", 19, 2500)) * 86400L).as("l_shipdate")),
      "lineitem")
    import scala.jdk.CollectionConverters._
    val r = new SplittableRandom(BaseSeed + 1)
    val vecs = (0 until NVecs).map { i =>
      val label = r.nextInt(10)
      // ten label centroids plus noise, so nearest neighbours are meaningful
      val e = Array.tabulate(64)(k =>
        (0.15 * math.sin((label + 1) * (k + 1)) + 0.1 * gauss(r)).toFloat)
      Row(i.toLong, e.toSeq, label)
    }
    wr(spark.createDataFrame(vecs.asJava, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))), "embeddings")
  }

  private def gauss(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  // ---- curation corpus ----

  /** Planted near-duplicate families: `families` source docs, each with
    * `members` edited copies. Member 0 of every family is an exact copy
    * (an exact-dup group); the others substitute words at `editRate`. */
  final case class Planted(families: Int, members: Int, editRate: Double)

  val PlantedBase = 900000L
  /** Replica k of a base document has doc_id + k · ReplicaStride. */
  val ReplicaStride = 10000000L

  /** The seeded curation corpus: base documents, `replicas - 1` seed-
    * salted word-permutation replicas (doc_id + 10M·k, GenScale's rule:
    * same length and vocabulary, scrambled order, so replicas are not
    * near-dups of each other), and the planted families (doc_id ≥ 900000,
    * below the 1M stride the registry's shell injection adds). Memoised
    * per JVM, so the checks' models read the rows the inputs were written
    * from without generating them twice. */
  def curationCorpus(seed: Long, replicas: Int, families: Int): (Array[Row], Planted) =
    corpora.getOrElseUpdate((seed, replicas, families), makeCorpus(seed, replicas, families))

  private val corpora = scala.collection.mutable.Map.empty[(Long, Int, Int), (Array[Row], Planted)]

  private def makeCorpus(seed: Long, replicas: Int, families: Int): (Array[Row], Planted) = {
    val base = baseDocs()
    // GenScale sorts positions by md5(k:pos:word); murmur3 of the same
    // key, salted by the seed, permutes alike at a fraction of the cost
    val reps = (1 until replicas).flatMap { k =>
      base.map { b =>
        val ws = b.getString(1).split(" ", -1)
        val perm = ws.indices.sortBy(i => MurmurHash3.stringHash(s"$seed:$k:$i:${ws(i)}"))
          .map(ws).mkString(" ")
        Row(b.getLong(0) + ReplicaStride * k, perm, b.getString(2), b.getString(3), perm.length.toLong)
      }
    }
    val r = new SplittableRandom(seed * 7919L + 3L)
    val editRate = 0.01 + 0.03 * r.nextDouble()
    val members = 3
    val long = base.filter(_.getString(1).count(_ == ' ') >= 40)
    val planted = (0 until families).flatMap { f =>
      val src = long(r.nextInt(long.length))
      val ws = src.getString(1).split(" ")
      (0 until members).map { j =>
        val text =
          if (j == 0) src.getString(1)
          else ws.map(w => if (r.nextDouble() < editRate) DocVocab(r.nextInt(DocVocab.length)) else w)
            .mkString(" ")
        Row(PlantedBase + f * 8L + j, text, src.getString(2), src.getString(3), text.length.toLong)
      }
    }
    ((base ++ reps ++ planted), Planted(families, members, editRate))
  }
}
