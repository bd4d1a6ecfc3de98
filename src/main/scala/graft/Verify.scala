package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes for fast local runs
    val keep: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(','); n => ps.exists(n.startsWith) }
      else _ => true
    val spark = graft.api.GraftSession.local(graft.api.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR") // keep driver output capture small
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // full cause chain, not just the top message — "Task not
        // serializable" alone cost a round of diagnosis (round 7)
        val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(c => s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).linesIterator.take(40).mkString(" | ")}")
          .take(5).mkString(" <- ")
        System.err.println(s"[verify] $name failed: $causes")
        e.getStackTrace.take(12).foreach(f => System.err.println(s"[verify]   at $f"))
      }
      // queries return lazy frames, so they cannot unpersist their own
      // caches (the caller's action materializes them); drop them here so
      // one query's blocks never crowd a later query's executors.
      // releasePinned also sweeps checkpoint blocks, which clearCache
      // cannot see and Spark never GC-frees (round-13) — they accumulated
      // over a full dump and crowded late entries
      graft.ops.Pinned.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
