package graft.api

import org.scalatest.funsuite.AnyFunSuite

/** Pins the sizing contract's conf math (pure functions — no session). */
class GraftSessionSpec extends AnyFunSuite {

  private val MiB = 1024L * 1024
  private val TiB = 1024L * 1024 * MiB

  test("shuffle partitions floor at 2x cores for small inputs, wave-aligned") {
    val confs = GraftSession.sizedConfs(inputBytes = 1L * MiB, cores = 32,
      executorMemBytes = 64L * 1024 * MiB)
    assert(confs("spark.sql.shuffle.partitions") === "64")
  }

  test("shuffle partitions track input bytes at 128 MiB granule, rounded to a core multiple") {
    // 100 TiB / 128 MiB = 819200 partitions; already a multiple of 32
    val confs = GraftSession.sizedConfs(inputBytes = 100L * TiB, cores = 32,
      executorMemBytes = 64L * 1024 * MiB)
    assert(confs("spark.sql.shuffle.partitions") === "819200")
    // non-multiple rounds UP: 1 GiB + 1 byte at 3 cores -> 9 partitions
    val c2 = GraftSession.sizedConfs(inputBytes = 1024L * MiB + 1, cores = 3,
      executorMemBytes = 16L * 1024 * MiB)
    assert(c2("spark.sql.shuffle.partitions") === "9")
  }

  test("heap rule: 8g/32 cores (the measured sf10 spill point) fails; 48g passes") {
    assert(!GraftSession.heapRuleSatisfied(32, 8L * 1024 * MiB))
    assert(GraftSession.heapRuleSatisfied(32, 48L * 1024 * MiB))
    assert(GraftSession.recommendedExecutorMemBytes(32) === 32L * 4 * 128 * MiB)
  }

  test("sized confs carry the engine extensions and AQE runtime half") {
    val confs = GraftSession.sizedConfs(1L * MiB, 4, 8L * 1024 * MiB)
    assert(confs("spark.sql.extensions") === "graft.GraftExtensions")
    assert(confs("spark.sql.adaptive.enabled") === "true")
    assert(confs("spark.sql.adaptive.skewJoin.enabled") === "true")
  }

  test("local confs: one shuffle partition per core, UTC, AQE under cache, extensions") {
    assert(GraftSession.localConfs(4) === Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false"))
  }
}
