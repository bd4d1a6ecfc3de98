package graft.tools

import graft.SparkSpec

/** The sf10 cross-checks, run at test size so their models stay exercised. */
class CrossCheckSpec extends SparkSpec {
  test("sf10 cross-checks pass at sf0.001: d8 == d18, d23, sim1, sim11, d7 pairs, d12 survivors") {
    val checks = CrossCheckSf10.check(spark, sfDir) ++ CrossCheckD12Sf10.check(spark, sfDir)
    assert(checks.map(_.name) === Seq("d8_vs_d18", "d23_via_d18", "sim1_recompute",
      "sim11_recompute", "d7_pairs_vs_bruteforce", "d12_survivors_vs_unionfind"))
    assert(checks.forall(_.pass), checks.filterNot(_.pass).mkString("\n"))
  }
}
