package graft.tools

/** One-shot generator for the seeded-but-engine-defined goldens
  * (round 15): lsh1 (MinHashLSH seed 42 → dist histogram), lsh2 (BRP
  * kNN seed 42) and m7c (corrected SVM epochs, w_norm rounded 6 dp).
  * Each query runs TWICE at the given sfDir; the tool refuses to print
  * unless both runs are bit-identical. Doubles print via Double.toString
  * (shortest roundtrip), which DuckDB parses back to the same bits —
  * the bit-exact repr() compare in tools/oracle_check.py then holds.
  * Usage: sbt "Test/runMain graft.tools.FreezeSeededGoldens /root/testdata/sf0.01" */
object FreezeSeededGoldens {
  private def lit(v: Any): String = v match {
    case d: java.lang.Double => d.toString
    case x => String.valueOf(x)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.api.GraftSession.local(graft.api.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val entries = Seq(
      "lsh1" -> graft.ml.MlLsh.queries("lsh1_ml_minhash_join"),
      "lsh2" -> graft.ml.MlLsh.queries("lsh2_ml_brp_knn"),
      "m7c" -> graft.ml.SvmSgd.queries("m7c_svm_corrected_epochs"))
    try {
      for ((name, q) <- entries) {
        def run(): Seq[Seq[String]] = {
          val out = q(spark, sfDir).collect().map(_.toSeq.map(lit)).map(_.toSeq).toSeq
          graft.ops.Pinned.releaseAll(spark)
          out
        }
        val a = run()
        val b = run()
        require(a == b, s"$name not deterministic across runs — cannot freeze")
        println(s"== $name (${a.length} rows, stable across 2 runs) ==")
        println(a.map(r => "      (" + r.mkString(", ") + ")").mkString(",\n"))
      }
    } finally spark.stop()
  }
}
