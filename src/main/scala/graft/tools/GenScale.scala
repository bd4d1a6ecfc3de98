package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: `runMain graft.tools.GenScale
  * <srcSfDir> <outDir> [factor=10]` writes a `factor`× copy of the
  * driver-generated test tables, for scale smokes ABOVE the largest
  * provided sf (the round-7 verdict's top order: the skew caps,
  * checkpointed loops and bounded-state streams exist precisely for
  * bigger data, and had never been measured above sf0.1).
  *
  * The correctness gate still applies at the scaled size: every table is
  * a pure function of the source tables (no RNG), so the DuckDB oracle
  * runs over the same scaled parquet and the hash-compare is exact.
  *
  * Per-table scaling rules:
  *  - `documents`: replica 0 is the original; replica k permutes each
  *    doc's words by a hash-sort keyed on (k, position, word) — texts
  *    stay same-length and same-vocabulary (so blocks/language stats
  *    scale realistically) but word ORDER is scrambled, which makes
  *    replica shingle sets nearly disjoint from the original's: no
  *    accidental near-dup families across replicas (a naive 10× copy
  *    would turn EVERY doc into a 10-way exact-dup cluster and measure
  *    a degenerate corpus instead of a big one). doc_id stride 10 M
  *    clears the dedup fixtures' +1 M/+2 M injected shells.
  *  - `embeddings`: replica k rotates the 64-dim vector by 7k positions
  *    (cosine to the original ≈ random noise, so no planted ANN
  *    structure beyond what the queries inject); vec_id stride 1 M is
  *    divisible by the %50/%10 query-key moduli, so query sets scale
  *    with the corpus and clear the +100 k shells.
  *  - `orders`/`lineitem`: replica k shifts o_orderkey/l_orderkey by
  *    100 M·k (join stays consistent); all other columns — including
  *    the customer/supplier FKs — repeat, i.e. 10× the transactions
  *    over the same entity universe, which is how real fact tables
  *    grow.
  *  - `region nation customer supplier part events`: copied unchanged
  *    (dimension universe constant; `events` feeds only the streaming
  *    windows not in the scale-smoke set).
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.api.GraftSession.local(graft.api.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[genscale] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => wr(rd(t), t))
    // events is parquet TIMESTAMP(NANOS), which Spark can't round-trip
    // (Tables.events reads it with the nanosAsLong legacy flag) — raw
    // byte copy keeps the schema identical for both engines
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$src/events.parquet"),
      java.nio.file.Paths.get(s"$out/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println("[genscale] events: raw copy")

    // deterministic word permutation: sort positions by md5(k:pos:word).
    // A UDF is fine here — this is a one-off generator, not a registry
    // query; determinism is what matters.
    val permuteWords = udf { (text: String, k: Int) =>
      if (text == null) null
      else {
        val ws = text.split(" ", -1)
        val md = java.security.MessageDigest.getInstance("MD5")
        ws.indices
          .sortBy { i =>
            val h = md.digest(s"$k:$i:${ws(i)}".getBytes("UTF-8"))
            java.util.Arrays.hashCode(h)
          }
          .map(ws)
          .mkString(" ")
      }
    }
    val docs = rd("documents")
    wr((0 until factor).map { k =>
        if (k == 0) docs
        else docs.select(
          (col("doc_id") + lit(10000000L * k)).as("doc_id"),
          permuteWords(col("text"), lit(k)).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _), "documents")

    val emb = rd("embeddings")
    wr((0 until factor).map { k =>
        if (k == 0) emb
        else emb.select(
          (col("vec_id") + lit(1000000L * k)).as("vec_id"),
          expr(s"concat(slice(embedding, ${7 * k % 64 + 1}, ${64 - 7 * k % 64})," +
            s" slice(embedding, 1, ${7 * k % 64}))").as("embedding"),
          col("label"))
      }.reduce(_ unionAll _), "embeddings")

    val orders = rd("orders")
    wr((0 until factor).map { k =>
        orders.withColumn("o_orderkey", col("o_orderkey") + lit(100000000L * k))
      }.reduce(_ unionAll _), "orders")

    val li = rd("lineitem")
    wr((0 until factor).map { k =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(100000000L * k))
      }.reduce(_ unionAll _), "lineitem")

    spark.stop()
  }
}
