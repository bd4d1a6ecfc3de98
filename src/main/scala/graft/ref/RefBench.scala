package graft.ref

import java.nio.file.{Files, Paths}

/** Matched-workload baseline replay: the reference's published PySpark
  * numbers (BASELINE.md: NB 72.05 s, LinearSVC 78.78 s) were measured on
  * the largest of 10 Sentiment140 subsets (100 k – 1 M rows,
  * `reference/README.md:40-43`; report §3.1 p.15, Tables 4.1/4.2 p.21).
  * This main replicates the reference's OWN fixture
  * (`input/test1/tweets.csv`, 24,999 rows; `SPARK_GRAFT_TWEETS` names
  * it, there is no default) ×reps and runs
  * `RefPipeline.mlPipeline` — same parse, same clean dialect, same
  * Tokenizer→HashingTF→IDF→estimator stages, same randomSplit(75/25,
  * seed 1234) — end-to-end on local[32], giving the DIRECT throughput
  * ratio against the published numbers rather than an sf0.1-synthetic
  * proxy. (Replica accuracy is inflated vs the report — duplicated tweets
  * straddle the train/test split — so only wall time is comparable.)
  *
  * Round 8 runs a SCALING CURVE, not one point: reps 4/10/40 ≈
  * 100 k/250 k/1 M rows (`SPARK_GRAFT_CURVE` overrides). The published
  * tables print only the 1 M point numerically, so the curve's job is to
  * show our advantage is throughput, not fixed overhead: if the 1 M point
  * were carried by constant JVM startup amortization, the smaller points
  * would blow past linear. Points run smallest-first in one JVM, so later
  * (larger) points benefit from JIT warmth exactly as the published
  * numbers benefited from a warmed YARN session. */
object RefBench {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_TWEETS", "")
    require(Files.isRegularFile(Paths.get(src)),
      s"set SPARK_GRAFT_TWEETS to the reference's tweets.csv (got '$src')")
    val curve = sys.env.getOrElse("SPARK_GRAFT_CURVE", "4,10,40")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val spark = graft.api.GraftSession.local(graft.api.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    val points = curve.map { reps =>
      val dir = Files.createTempDirectory(s"graft_refbench_$reps")
      (0 until reps).foreach { i =>
        Files.copy(Paths.get(src), dir.resolve(f"tweets_$i%02d.csv"))
      }
      val rows = spark.read.text(dir.toString).count()
      def run(svm: Boolean): (Double, Double) = {
        val t0 = System.nanoTime()
        val m = RefPipeline.mlPipeline(spark, dir.toString, svm).head()
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, m.getAs[Double]("accuracy"))
      }
      val (nbSec, nbAcc) = run(svm = false)
      val (svmSec, svmAcc) = run(svm = true)
      (reps, rows, nbSec, nbAcc, svmSec, svmAcc)
    }
    val pointsJson = points.map { case (reps, rows, nbSec, nbAcc, svmSec, svmAcc) =>
      s"""{"reps":$reps,"rows":$rows,"nb_sec":${f(nbSec)},"svm_sec":${f(svmSec)},""" +
        s""""nb_acc":${f(nbAcc)},"svm_acc":${f(svmAcc)}}"""
    }.mkString("[", ",", "]")
    // the 1 M point (reps=40) is the one the report tabulates numerically;
    // ratios are emitted ONLY when that exact point ran — dividing a
    // smaller curve point by the published 1 M-row seconds would compare
    // mismatched workload sizes (round-8 advice)
    val headline = points.find(_._1 == 40)
    val ratios = headline.map { case (_, _, nbSec, _, svmSec, _) =>
      s""","baseline_nb_sec":72.05,"baseline_svm_sec":78.78,""" +
        s""""nb_ratio":${f(nbSec / 72.05)},"svm_ratio":${f(svmSec / 78.78)}"""
    }.getOrElse("")
    println(s"""{"metric":"ref_workload_curve","unit":"sec","points":$pointsJson$ratios}""")
    spark.stop()
  }
}
