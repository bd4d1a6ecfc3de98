package graft.tools

import graft.ml.MlPipelines

/** One-shot generator for the m1b/m3b frozen prediction goldens
  * (round-15 verdict #1): runs each pinned-layout flagship pipeline
  * TWICE at the given sfDir, asserts the two runs are bit-identical
  * (the determinism the pinning buys), and prints the rows as a
  * DuckDB VALUES block ready to paste into `MlPipelines.m1bSql` /
  * `m3bSql`. Usage: sbt "Test/runMain graft.tools.FreezeMlGolden /root/testdata/sf0.01" */
object FreezeMlGolden {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.api.GraftSession.local(graft.api.GraftSession.envCpus).getOrCreate()
    try {
      for ((name, q) <- Seq("m1b" -> MlPipelines.queries("m1b_ml_nb_predictions"),
        "m3b" -> MlPipelines.queries("m3b_ml_svc_predictions"))) {
        val a = q(spark, sfDir).collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        val b = q(spark, sfDir).collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        require(a == b, s"$name not deterministic across runs: pinning failed")
        println(s"== $name (${a.length} rows, stable across 2 runs) ==")
        println(a.map { case (id, l, p) => s"      ($id, $l, $p)" }.mkString(",\n"))
      }
    } finally spark.stop()
  }
}
