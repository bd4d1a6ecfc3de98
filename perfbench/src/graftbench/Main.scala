package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.GraftApi

/** Benchmark JVM entry point; `perfbench/run.py` drives it. One JVM is
  * one run: set up a session (timed from JVM start), write the seeded
  * inputs, run the workload for `--seconds`, check its outputs, and write
  * the run record to `--out`. With `--setup-only 1` the JVM only sets up
  * and writes its `setup_s` to `--out`: one more set-up sample for the
  * run's median. Arguments are `--key value` pairs. */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val setup = Setup.start(o("cpus").toInt)
    if (o.get("setup-only").contains("1")) {
      try write(Paths.get(o("out")), Json.num(setup.setupS)) finally setup.spark.stop()
      return
    }
    try {
      val dir = Paths.get(o("dir"))
      val t0 = System.nanoTime()
      Inputs.generate(o("workload"), o("seed").toLong, setup.cpus, dir)
      val genS = (System.nanoTime() - t0) / 1e9
      write(Paths.get(o("out")), Runner.run(setup, o("workload"), o("seed").toLong, dir,
        o("seconds").toDouble, o("trace") == "1", o.get("corrupt"), genS))
    } finally setup.spark.stop()
  }

  def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}

/** Session set-up, timed from JVM start: the session is built with
  * graft's extensions (functions, optimizer rules, TopK strategy), the
  * functions are registered on it, and a trivial action returns. */
final case class Setup(spark: SparkSession, cpus: Int, setupS: Double, sessionMs: Double,
    installMs: Double)

object Setup {
  def start(cpus: Int): Setup = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    GraftApi.registerFunctions(spark)
    val t2 = System.nanoTime()
    spark.range(1).collect()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Setup(spark, cpus, setupS, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }
}

/** Minimal JSON writing (the record is flat numbers, strings and lists). */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}

/** Operations attempted, failed, and why. An operation is one call into
  * graft; it fails when it throws or when its output fails a check. */
final class Outcomes {
  private val failedOps = mutable.LinkedHashSet.empty[Int]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  def next(): Int = { attempted += 1; attempted }
  def fail(op: Int, why: String): Unit = {
    failedOps += op
    if (notes.size < 50) notes += why
  }
  def failed: Int = failedOps.size
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
