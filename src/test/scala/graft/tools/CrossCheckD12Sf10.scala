package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-16 verdict #2: close the LAST scale name-exclusion — d12
  * (semantic dedup) at sf10, where DuckDB OOMs on the all-pairs
  * embedding oracle. Two fully independent recomputations:
  *
  *  1. PAIR COMPLETENESS+SOUNDNESS: the cos ≥ 0.9 pair set is re-derived
  *     by an exact BRUTE-FORCE all-pairs pass (collected quantized
  *     vectors broadcast to a mapPartitions upper-triangle sweep in
  *     plain while-loops — no bands, no graft_dot, no SQL join), then
  *     compared as a SET against the banded d7 machinery's output.
  *     At sf10 the d7 population is ~66k vectors of dim 64 (~2e9 dots —
  *     minutes on local[32]); the banded path must have missed NOTHING
  *     and invented NOTHING, including every dot/norm value.
  *  2. CLUSTERING+SURVIVORS: the d12 survivor set is re-derived
  *     driver-side by UNION-FIND over the brute-force pair list (path
  *     compression, nothing shared with d8's DataFrame label
  *     propagation), keeping per component only the min id; survivors =
  *     population minus non-representative members. Compared exactly
  *     against the d12 registry entry's output.
  *
  * Usage: `sbt "Test/runMain graft.tools.CrossCheckD12Sf10 <sfDir> <outJson>"`.
  * Tier-1 runs `check` at sf0.001 (`CrossCheckSpec`). */
object CrossCheckD12Sf10 {
  import CrossCheckSf10.Check

  def main(args: Array[String]): Unit = CrossCheckSf10.run(args, check)

  def check(spark: SparkSession, dir: String): Seq[Check] = {
    // the d7 population, re-stated here from its spec (base = vec_id%5,
    // quantize q_i = round(e_i*1000), drop zero-norm, shells = %10 ids
    // +100000 with q(0)+50) — built with plain column ops so a d7-side
    // population bug would DISAGREE rather than propagate
    val base = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      .filter(expr("aggregate(zip_with(q, q, (a, b) -> a * b), 0L, (acc, x) -> acc + x) > 0"))
    val pop = base.unionAll(
      base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          expr("concat(array(element_at(q, 1) + 50), slice(q, 2, 63))").as("q")))
    val vecs = pop.collect().map(r =>
      (r.getLong(0), r.getSeq[Long](1).toArray))
    val n = vecs.length
    println(s"[d12x] population: $n vectors")
    require(n > 0 && n < 200000, s"population $n out of the driver-feasible window")
    // id-sorted so the upper triangle (i < j) IS id_a < id_b
    val sorted = vecs.sortBy(_._1)
    val ids = sorted.map(_._1)
    val qs = sorted.map(_._2)
    val norms = qs.map { v =>
      var s = 0L; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      s
    }
    val bIds = spark.sparkContext.broadcast(ids)
    val bQs = spark.sparkContext.broadcast(qs)
    val bNrm = spark.sparkContext.broadcast(norms)
    // brute force: distribute the row index, each task sweeps j > i
    val bf = spark.sparkContext.parallelize(0 until n, spark.sparkContext.defaultParallelism * 8)
      .flatMap { i =>
        val ids = bIds.value; val qs = bQs.value; val nrm = bNrm.value
        val qi = qs(i); val ni = nrm(i)
        val outRows = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long)]
        var j = i + 1
        while (j < ids.length) {
          val qj = qs(j)
          var dot = 0L; var k = 0
          while (k < qi.length) { dot += qi(k) * qj(k); k += 1 }
          if (dot >= 0 && dot * dot * 100 >= 81L * ni * nrm(j))
            outRows += ((ids(i), ids(j), dot, ni, nrm(j)))
          j += 1
        }
        outRows
      }.collect().toSet
    println(s"[d12x] brute-force pairs: ${bf.size}")

    // the banded machinery's pair set (the d7 registry entry)
    val banded = graft.ops.Dedup.queries("d7_embedding_neardup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val missed = bf -- banded
    val invented = banded -- bf
    val pairsPass = missed.isEmpty && invented.isEmpty && bf.nonEmpty
    println(s"[d12x] banded=${banded.size} missed=${missed.size} " +
      s"invented=${invented.size} pass=$pairsPass")
    missed.take(3).foreach(p => println(s"[d12x]   missed: $p"))
    invented.take(3).foreach(p => println(s"[d12x]   invented: $p"))

    // union-find over the brute-force pairs (driver, path compression)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    bf.foreach { case (a, b, _, _, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val dupMembers = bf.flatMap(p => Seq(p._1, p._2))
    val drop = dupMembers.filter(m => find(m) != m)
    val expectedSurvivors = ids.toSet -- drop
    val got = graft.ops.Dedup.queries("d12_semantic_dedup_corpus")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val d12Pass = got == expectedSurvivors && got.nonEmpty
    println(s"[d12x] survivors: expected=${expectedSurvivors.size} got=${got.size} " +
      s"clusters=${dupMembers.map(find).size} pass=$d12Pass")
    (expectedSurvivors -- got).take(3).foreach(x => println(s"[d12x]   missing: $x"))
    (got -- expectedSurvivors).take(3).foreach(x => println(s"[d12x]   extra: $x"))

    Seq(
      Check("d7_pairs_vs_bruteforce", s""""population": $n, "bruteforce": ${bf.size}, """ +
        s""""banded": ${banded.size}, "missed": ${missed.size}, "invented": ${invented.size}""",
        pairsPass),
      Check("d12_survivors_vs_unionfind", s""""expected": ${expectedSurvivors.size}, """ +
        s""""got": ${got.size}, "dup_members": ${dupMembers.size}""", d12Pass))
  }
}
