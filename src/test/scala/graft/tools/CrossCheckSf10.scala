package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.GraftSession

/** Scale-correctness cross-check for the two query classes the DuckDB
  * oracle cannot reach at sf10 (round-14 verdict item 3):
  *
  *  - the d8 RECURSIVE-CTE class: DuckDB's recursive reachability CTE
  *    blows up on the sf10 edge list, so `d8_dedup_clusters` is excluded
  *    from the sf10 oracle by NAME only. But `d18_cc_largestar` computes
  *    the same min-reachable-id labels by a different algorithm
  *    (alternating large-star/small-star vs monotone label propagation)
  *    and DOES scale — exact row equality between the two at sf10 is
  *    algorithm-independent evidence both are right.
  *  - the sim1 BRUTE-FORCE class: the all-pairs oracle join cannot
  *    finish in DuckDB at sf10. Here a sampled query subset is recomputed
  *    EXACTLY on the driver (collected int-quantized vectors, Scala loop
  *    over a mapPartitions-free local pass on the collected per-partition
  *    top-k) through a code path sharing nothing with sim1's
  *    broadcast-join + window plan.
  *
  * The two class COMPANIONS are cross-checked too: d23 (dedup health —
  * shares d8's recursive oracle) is recomputed over d18's independently
  * produced cluster frame, and sim11 (RBO between exact and LSH
  * rankings) is re-derived in plain driver Scala from the two engine
  * rankings for the sampled queries.
  *
  * Usage: `sbt "Test/runMain graft.tools.CrossCheckSf10 <sfDir> <outJson>"`.
  * Writes {"d8_vs_d18": {...}, "d23_via_d18": {...},
  * "sim1_recompute": {...}, "sim11_recompute": {...}} with pass flags.
  * Tier-1 runs `check` at sf0.001 (`CrossCheckSpec`).
  */
object CrossCheckSf10 {
  /** One cross-check: its JSON fields and its pass flag. */
  final case class Check(name: String, fields: String, pass: Boolean)

  def main(args: Array[String]): Unit = run(args, check)

  /** `<sfDir> <outJson>`: runs `check` on a local session and writes the
    * checks as one JSON object. */
  private[tools] def run(args: Array[String], check: (SparkSession, String) => Seq[Check]): Unit = {
    val (dir, out) = (args(0), args(1))
    val spark = GraftSession.local(GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val checks = try check(spark, dir) finally spark.stop()
    val body = checks.map(c => s"""  "${c.name}": {${c.fields}, "pass": ${c.pass}}""")
    Files.writeString(Paths.get(out),
      (s"""  "sf_dir": "$dir"""" +: body).mkString("{\n", ",\n", "\n}\n"))
    println(s"[crosscheck] wrote $out")
  }

  def check(spark: SparkSession, dir: String): Seq[Check] = {
    // ---- 1. d8 == d18 row equality (full outer join on the unique key) ----
    // d18's cluster pipeline is the expensive leg at sf10, and it feeds
    // BOTH the equality join and the d23 re-derivation below — persist ONE
    // frame and reuse it (round-15 advice: the tool used to run the
    // large-star pipeline twice and pay two extra count() jobs). Row
    // counts come from the same join aggregate (doc_id is unique per
    // side, cluster_id never null, so non-null side = presence).
    val d8 = graft.ops.Dedup.queries("d8_dedup_clusters")(spark, dir)
      .select(col("doc_id"), col("cluster_id").as("c8"), col("n_members").as("n8"))
    val d18 = graft.ops.Dedup.queries("d18_cc_largestar")(spark, dir)
      .select(col("doc_id"), col("cluster_id").as("c18"), col("n_members").as("n18"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val joined = d8.join(d18, Seq("doc_id"), "full_outer")
      .agg(
        sum(when(col("c8").isNotNull, 1L).otherwise(0L)).as("rows_d8"),
        sum(when(col("c18").isNotNull, 1L).otherwise(0L)).as("rows_d18"),
        sum(when(col("c8") === col("c18") && col("n8") === col("n18"), 0L)
          .otherwise(1L)).as("mismatched"))
      .collect()(0)
    val rowsD8 = joined.getLong(0)
    val rowsD18 = joined.getLong(1)
    val ccMismatch = joined.getLong(2)
    val ccPass = ccMismatch == 0 && rowsD8 == rowsD18 && rowsD8 > 0
    println(s"[crosscheck] d8=$rowsD8 d18=$rowsD18 mismatched=$ccMismatch pass=$ccPass")

    // ---- 1b. d23 health stats re-derived over d18's cluster frame ----
    val d23 = graft.ops.Dedup.queries("d23_dedup_health")(spark, dir)
      .collect().map(_.toSeq).toSet
    val d23ViaD18 = graft.ops.Dedup.dedupHealthOf(
        d18.select(col("doc_id"), col("c18").as("cluster_id")))
      .collect().map(_.toSeq).toSet
    val d23Pass = d23.nonEmpty && d23 == d23ViaD18
    println(s"[crosscheck] d23 rows=${d23.size} viaD18=${d23ViaD18.size} pass=$d23Pass")
    d18.unpersist()
    graft.ops.Pinned.releaseAll(spark)

    // ---- 2. sim1 exact driver recompute on a sampled query subset ----
    val NQ = 20
    val K = 5
    val qn = graft.ops.Similarity.qnormOf(graft.Tables.embeddings(spark, dir))
    // the 20 smallest sim1 query ids (vec_id % 50 == 0) — deterministic
    val sample = qn.filter(col("vec_id") % 50 === 0).orderBy("vec_id").limit(NQ)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    // per-partition exact top-k in plain Scala (no SQL window, no
    // graft_dot), merged on the driver — K·NQ rows total cross the wire
    val bq = spark.sparkContext.broadcast(sample)
    val partTop = qn.select(col("vec_id"), col("q"), col("nrm")).rdd
      .mapPartitions { it =>
        val qs = bq.value
        val acc = scala.collection.mutable.Map.empty[Long,
          scala.collection.mutable.ArrayBuffer[(Long, Double)]]
        it.foreach { r =>
          val vid = r.getLong(0)
          val v = r.getSeq[Long](1).toArray
          val nrm = r.getLong(2)
          qs.foreach { case (qid, qv, qnrm) =>
            if (vid != qid) {
              var dot = 0L
              var i = 0
              while (i < qv.length) { dot += qv(i) * v(i); i += 1 }
              val cos = dot.toDouble / math.sqrt(qnrm.toDouble * nrm.toDouble)
              val buf = acc.getOrElseUpdate(qid,
                scala.collection.mutable.ArrayBuffer.empty)
              buf += ((vid, cos))
              if (buf.length > 4 * K) {
                val cut = buf.sortBy { case (id, c) => (-c, id) }.take(K)
                buf.clear()
                buf ++= cut
              }
            }
          }
        }
        acc.iterator.flatMap { case (qid, buf) =>
          buf.sortBy { case (id, c) => (-c, id) }.take(K)
            .map { case (id, c) => (qid, id, c) }
        }
      }.collect()
    val expected = partTop.groupBy(_._1).map { case (qid, arr) =>
      qid -> arr.map { case (_, id, c) => (id, c) }
        .sortBy { case (id, c) => (-c, id) }.take(K).zipWithIndex
        .map { case ((id, c), i) =>
          (id, i + 1, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSeq
    }
    val qidSet = sample.map(_._1).toSet
    val got = graft.ops.Similarity.queries("sim1_ann_bruteforce_topk")(spark, dir)
      .filter(col("q_id").isInCollection(qidSet))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2), r.getDouble(3))))
      .groupBy(_._1).map { case (q, arr) => q -> arr.map(_._2).sortBy(_._2).toSeq }
    val simMismatch = qidSet.toSeq.map { q =>
      if (expected.getOrElse(q, Seq.empty) == got.getOrElse(q, Seq.empty)) 0 else 1
    }.sum
    val simPass = simMismatch == 0 && qidSet.nonEmpty && got.nonEmpty
    println(s"[crosscheck] sim1 queries=${qidSet.size} mismatched=$simMismatch pass=$simPass")

    // ---- 2b. sim11 RBO re-derived in plain Scala from the two engine
    // rankings (exact top-3 and LSH), for the same sampled queries ----
    val RboDepths = 3
    val rboW = (1 to RboDepths).map { dd =>
      (BigDecimal("0.1") * BigDecimal("0.9").pow(dd - 1) * BigDecimal(1000000000))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    }
    def ranks(q: org.apache.spark.sql.DataFrame): Map[(Long, Long), Int] =
      q.filter(col("q_id").isInCollection(qidSet)).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val exactR = ranks(graft.ops.Similarity
      .queries("sim1_ann_bruteforce_topk")(spark, dir).filter(col("rk") <= RboDepths))
    val lshR = ranks(graft.ops.Similarity.queries("sim3_lsh_ann_topk")(spark, dir))
    val rboExpected = qidSet.map { q =>
      val a = exactR.collect { case ((qq, c), r) if qq == q => c -> r }
      val b = lshR.collect { case ((qq, c), r) if qq == q => c -> r }
      val dmin = a.keySet.intersect(b.keySet).toSeq
        .map(c => math.max(a(c), b(c)))
      val rbo = (1 to RboDepths).map { dd =>
        val c = dmin.count(_ <= dd)
        rboW(dd - 1) * c / dd
      }.sum
      q -> ((rbo, dmin.count(_ <= RboDepths).toLong))
    }.toMap
    val rboGot = graft.ops.Similarity.queries("sim11_rbo")(spark, dir)
      .filter(col("q_id").isInCollection(qidSet)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rboMismatch = qidSet.count(q =>
      rboExpected.get(q) != rboGot.get(q) &&
        // queries with NO shared candidates at depth 3 legitimately emit
        // (0, 0) — both sides must then agree on the zero
        !(rboExpected.get(q).exists(_._1 == 0L) && !rboGot.contains(q)))
    val rboPass = rboMismatch == 0 && rboGot.nonEmpty
    println(s"[crosscheck] sim11 queries=${qidSet.size} mismatched=$rboMismatch pass=$rboPass")

    Seq(
      Check("d8_vs_d18", s""""rows_d8": $rowsD8, "rows_d18": $rowsD18, """ +
        s""""mismatched": $ccMismatch""", ccPass),
      Check("d23_via_d18", s""""rows": ${d23.size}""", d23Pass),
      Check("sim1_recompute", s""""queries_checked": ${qidSet.size}, "k": $K, """ +
        s""""mismatched_queries": $simMismatch""", simPass),
      Check("sim11_recompute", s""""queries_checked": ${qidSet.size}, """ +
        s""""mismatched_queries": $rboMismatch""", rboPass))
  }
}
