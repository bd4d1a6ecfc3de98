package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Custom Catalyst surface: the native HammingDistance expression (eval +
  * codegen parity, null propagation), the expression-tree SQL functions,
  * and the typed confusion Aggregator. */
class GraftFunctionsSpec extends SparkSpec {

  test("graft_hamming: distance semantics incl. length mismatch") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val got = Seq(
      ("0101", "0101", 0L), ("0101", "0111", 1L),
      ("0000", "1111", 4L), ("abc", "abcdd", 2L), ("", "xyz", 3L))
      .toDF("a", "b", "want")
      .select(expr("graft_hamming(a, b)").as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("graft_hamming propagates nulls") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val r = Seq(("x", Option.empty[String])).toDF("a", "b")
      .select(expr("graft_hamming(a, b)")).head()
    assert(r.isNullAt(0))
  }

  test("graft_hamming interpreted eval matches codegen result") {
    // direct eval path (interpreted)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = HammingDistance(Literal("10110"), Literal("00111"))
    assert(e.eval(null) === 2L)
  }

  test("graft_nfc composes decomposed sequences, is idempotent, and propagates nulls") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val deco = "à é ô" // à é ô decomposed
    val rows = Seq((deco, Option("à é ô")), (" plain ascii ", Option(" plain ascii ")))
      .toDF("s", "want")
      .select(expr("graft_nfc(s)").as("got"), col("want"),
        expr("graft_nfc(graft_nfc(s)) = graft_nfc(s)").as("stable"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) === r.getString(1))
      assert(r.getBoolean(2))
    }
    val n = Seq(Option.empty[String]).toDF("s").select(expr("graft_nfc(s)")).head()
    assert(n.isNullAt(0))
  }

  test("graft_nfc interpreted eval matches the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = NfcNormalize(Literal("ñ à"))
    assert(e.eval(null).toString === "ñ à")
  }

  test("graft_dot: codegen result equals the interpreted higher-order formulation") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rows = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),    // 4+10+18 = 32
      (Seq(-7L, 0L), Seq(3L, 9L)),           // -21
      (Seq.empty[Long], Seq.empty[Long]),    // 0
      (Seq(2L, 2L, 2L), Seq(1L)))            // common prefix only: 2
      .toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("got"),
        expr("aggregate(zip_with(a, b, (x, y) -> coalesce(x * y, 0L)), 0L, (acc, v) -> acc + v)").as("want"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
    // null input propagates; interpreted eval path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val lit = (xs: Seq[Long]) =>
      Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(LongType, false))
    assert(DotProductLong(lit(Seq(1L, 2L, 3L)), lit(Seq(4L, 5L, 6L))).eval(null) === 32L)
    val n = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(expr("graft_dot(a, b)")).head()
    assert(n.isNullAt(0))
  }

  test("graft_clean_nb via spark.sql equals the Column-API cleaner") {
    GraftFunctions.register(spark)
    graft.Tables.documents(spark, sfDir).createOrReplaceTempView("docs_fn_test")
    val viaSql = spark.sql("SELECT graft_clean_nb(text) AS c FROM docs_fn_test ORDER BY doc_id")
    val viaCol = graft.Tables.documents(spark, sfDir).orderBy("doc_id")
      .select(graft.text.TextOps.cleanNb(col("text")).as("c"))
    assert(viaSql.collect().toSeq === viaCol.collect().toSeq)
  }

  test("SimplifyGraftHamming optimizer rule folds hamming(x, x) to literal 0") {
    GraftFunctions.register(spark)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ SimplifyGraftHamming
    try {
      val df = graft.Tables.documents(spark, sfDir)
        .select(expr("graft_hamming(text, text)").as("h"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("graft_hamming"),
        s"rule must fold the self-distance away:\n${optimized.take(300)}")
      assert(df.collect().forall(r => r.isNullAt(0) || r.getLong(0) == 0L))
      // and it must NOT fire on distinct children
      val keep = graft.Tables.documents(spark, sfDir)
        .select(expr("graft_hamming(text, lang)").as("h"))
      assert(keep.queryExecution.optimizedPlan.toString.contains("graft_hamming"))
    } finally spark.experimental.extraOptimizations = before
  }

  test("the shared test session runs GraftExtensions: graft_hamming(x, x) folds to 0") {
    // no register call and no extraOptimizations: the session's own
    // extensions must supply both the function and the rule
    val plan = spark.range(3).selectExpr("CAST(id AS STRING) AS x")
      .selectExpr("graft_hamming(x, x) AS h").queryExecution.optimizedPlan.toString
    assert(plan.contains("0 AS h#") && !plan.contains("graft_hamming"), plan)
  }

  test("SimplifyGraftHamming preserves NULL on nullable children") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ SimplifyGraftHamming
    try {
      val df = Seq(Option("abc"), None).toDF("s")
        .select(expr("graft_hamming(s, s)").as("h"))
      // fold still removes the popcount work…
      assert(!df.queryExecution.optimizedPlan.toString.contains("graft_hamming"))
      // …but NULL input must stay NULL, not become 0
      val rows = df.collect()
      assert(rows.count(_.isNullAt(0)) === 1)
      assert(rows.exists(r => !r.isNullAt(0) && r.getLong(0) == 0L))
    } finally spark.experimental.extraOptimizations = before
  }

  test("typed ConfusionMetricsAggregator matches the SQL metric query") {
    val typed = graft.ops.SqlSurface.a5(spark, sfDir).head()
    val sql = graft.ops.SentimentNb.binaryMetrics(spark, sfDir).head()
    assert((0 to 3).forall(i => typed.getLong(i) == sql.getLong(i)))
    assert((4 to 7).forall(i => typed.getDouble(i) == sql.getDouble(i)))
  }

  test("graft_bloom_agg/might_contain: no false negatives, bounded false positives") {
    GraftFunctions.register(spark)
    // membership via scalar subquery (the only shape might_contain accepts)
    val hits = spark.sql(
      """SELECT count(*) FROM range(1000)
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(id), 1000L, 8000L) FROM range(0, 1000, 3)),
        |  xxhash64(id))""".stripMargin).head().getLong(0)
    val members = (0 until 1000 by 3).size // 334
    assert(hits >= members, s"every inserted key must test positive, got $hits < $members")
    // 8 bits/key sizing keeps the false-positive rate well under 10%
    assert(hits <= members + 100, s"false-positive rate blew past the sketch sizing: $hits")
  }

  test("ThresholdLevenshtein rewrites bounded comparisons to the banded-DP form") {
    import spark.implicits._
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ graft.functions.ThresholdLevenshtein
    try {
      // plan assertions need a file-backed frame (a LocalRelation filter
      // constant-folds away before the plan can be inspected)
      val docs = graft.Tables.documents(spark, sfDir)
      val bounded = docs.filter(expr("levenshtein(text, lang) <= 3"))
      val opt = bounded.queryExecution.optimizedPlan.toString
      assert(opt.contains("levenshtein(text#") && opt.contains(", Some(3)) >= 0"),
        s"must carry the threshold into the expression:\n$opt")
      // <= 0 degrades to string equality (no DP at all)
      val eq = docs.filter(expr("levenshtein(text, lang) <= 0"))
      assert(!eq.queryExecution.optimizedPlan.toString.contains("levenshtein"),
        "distance-0 bound must become text = lang")
      // unbounded / projected uses must NOT be rewritten
      val proj = docs.select(expr("levenshtein(text, lang)").as("d"))
      assert(proj.queryExecution.optimizedPlan.toString.contains("levenshtein(text#"))
      // value equivalence on data
      val df = Seq(("kitten", "sitting"), ("abc", "abc"), ("abc", "zzzzzz"))
        .toDF("a", "b")
      assert(df.filter(expr("levenshtein(a, b) <= 3"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet ===
        Set(("kitten", "sitting"), ("abc", "abc")))
      assert(df.filter(expr("levenshtein(a, b) < 3")).collect().length === 1,
        "only the exact match is at distance < 3")
      assert(df.filter(expr("levenshtein(a, b) <= 0")).collect()
        .map(_.getString(0)).toSeq === Seq("abc"))
      assert(df.select(expr("levenshtein(a, b)").as("d"))
        .collect().map(_.getInt(0)).sorted.toSeq === Seq(0, 3, 6))
    } finally spark.experimental.extraOptimizations = before
  }

  test("graft_viterbi equals brute-force segmentation enumeration, exhaustively") {
    import graft.functions.ViterbiCost
    val costs = ViterbiCost.Pieces.toMap
    // brute force: min packed cost over ALL segmentations, same packing
    def brute(w: String): Long =
      if (w.isEmpty) 0L
      else (1 to math.min(ViterbiCost.MaxPiece, w.length)).flatMap { l =>
        val piece = w.substring(0, l)
        val c = costs.get(piece).orElse(if (l == 1) Some(ViterbiCost.UnkCost) else None)
        c.map(cv => cv * 65536L + 1L + brute(w.substring(l)))
      }.min
    val alphabet = "taber".toCharArray
    def words(n: Int): Seq[String] =
      if (n == 0) Seq("") else words(n - 1).flatMap(w => alphabet.map(c => w + c))
    val all = (1 to 5).flatMap(words) :+ "customer" :+ "window" :+ "ZZ@q"
    all.foreach { w =>
      val got = ViterbiCost.compute(org.apache.spark.unsafe.types.UTF8String.fromString(w))
      assert(got === brute(w), s"DP disagrees with enumeration on '$w'")
    }
    // hand cases: whole-word piece beats per-char spelling
    def of(w: String) = ViterbiCost.compute(org.apache.spark.unsafe.types.UTF8String.fromString(w))
    assert(of("table") === 170L * 65536L + 1L, "whole-word piece wins")
    assert(of("er") === 95L * 65536L + 1L)
    assert(of("qqq") === 180L * 65536L + 3L, "known chars spell out at 60 each")
    assert(of("@@") === 600L * 65536L + 2L, "unknown chars admitted at UnkCost")
  }

  test("graft_wordpiece equals a reference greedy scan, exhaustively; UNK is all-or-nothing") {
    import graft.functions.WordPieceEncode
    val vocab = WordPieceEncode.Vocab.toSet
    // independent reference implementation of BERT's greedy rule
    def ref(w: String): Long = {
      if (w.isEmpty) return 0L
      var pos = 0; var cnt = 0L
      while (pos < w.length) {
        val take = (math.min(WordPieceEncode.MaxPiece, w.length - pos) to 1 by -1)
          .find { l =>
            val p = w.substring(pos, pos + l)
            vocab.contains(if (pos == 0) p else "##" + p)
          }
        take match {
          case None => return 3L // 1 piece, unk bit
          case Some(l) => cnt += 1; pos += l
        }
      }
      cnt * 2
    }
    def of(w: String) = WordPieceEncode.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(w))
    val alphabet = "taqze1".toCharArray
    def words(n: Int): Seq[String] =
      if (n == 0) Seq("") else words(n - 1).flatMap(w => alphabet.map(c => w + c))
    ((1 to 5).flatMap(words) ++ Seq("customer", "tablet", "windows", "query"))
      .foreach(w => assert(of(w) === ref(w), s"greedy scan disagrees on '$w'"))
    // hand cases
    assert(of("table") === 2L, "whole-word root = 1 piece")
    assert(of("tablet") === 2L * 2, "table + ##t")
    assert(of("zzz") === 3L, "no z root -> whole word UNK despite ##z existing")
    assert(of("a1") === 3L, "no ##1 continuation -> UNK, all-or-nothing")
    assert(of("customer") === 7L * 2, "c,u,s,t,o,m,##er")
  }

  test("graft_wordpiece_pieces is consistent with graft_wordpiece, exhaustively") {
    import graft.functions.{WordPieceEncode, WordPieceSegments}
    import org.apache.spark.unsafe.types.UTF8String
    def packed(w: String) = WordPieceEncode.compute(UTF8String.fromString(w))
    def pieces(w: String) = WordPieceSegments.compute(UTF8String.fromString(w)).toString
    val alphabet = "taqze1".toCharArray
    def words(n: Int): Seq[String] =
      if (n == 0) Seq("") else words(n - 1).flatMap(w => alphabet.map(c => w + c))
    ((1 to 5).flatMap(words) ++ Seq("customer", "tablet", "windows", "query"))
      .foreach { w =>
        val (cnt, unk) = (packed(w) / 2, packed(w) % 2 == 1)
        val ps = pieces(w)
        if (unk) assert(ps === "[UNK]", s"'$w' must collapse to [UNK]")
        else {
          val split = ps.split("\\+")
          assert(split.length.toLong === cnt, s"'$w': piece count must match tok5")
          // the pieces reassemble the word (## markers stripped)
          assert(split.map(_.stripPrefix("##")).mkString === w,
            s"'$w': pieces must reassemble the word, got '$ps'")
          // every piece is in the shared vocabulary
          split.foreach(p => assert(WordPieceEncode.contains(p), s"'$p' not in vocab"))
        }
      }
    assert(pieces("tablet") === "table+##t")
    assert(pieces("customer") === "c+##u+##s+##t+##o+##m+##er")
    // tok6's usage audit: dead pieces emit zeros, [UNK] row counts sinks
    val s2 = spark
    import s2.implicits._
    val usage = graft.api.GraftApi.wordPieceUsage(
        Seq("tablet", "table", "zzz").toDF("word")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(usage("table") === ((2L, 2L, false)))  // in both words
    assert(usage("##t") === ((1L, 1L, false)))
    assert(usage("[UNK]") === ((1L, 1L, false)))  // zzz
    assert(usage("spark") === ((0L, 0L, true)))   // dead piece
  }

  test("graft_wordpiece runs inside whole-stage codegen as a SQL function") {
    graft.functions.GraftFunctions.register(spark)
    val df = spark.range(3)
      .selectExpr("element_at(array('table','tablet','zzz'), cast(id + 1 AS int)) AS w")
      .selectExpr("w", "graft_wordpiece(w) AS c")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("graft_wordpiece"),
      s"expression fell out of codegen:\n$plan")
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("table") === 2L && got("tablet") === 4L && got("zzz") === 3L)
  }

  test("graft_viterbi runs inside whole-stage codegen as a SQL function") {
    graft.functions.GraftFunctions.register(spark)
    // a range-backed frame: local Seqs constant-fold into a LocalTableScan
    // (which only exercises interpreted eval)
    val df = spark.range(3)
      .selectExpr("element_at(array('table','stream','tab'), cast(id + 1 AS int)) AS w")
      .selectExpr("w", "graft_viterbi(w) AS c")
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project") && plan.contains("graft_viterbi"),
      s"expression fell out of codegen:\n$plan")
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("table") === 170L * 65536L + 1L)
    assert(got("stream") === 200L * 65536L + 1L)
    assert(got("tab") === 130L * 65536L + 1L)
  }

  test("graft_shingle_h60 and graft_minhash_affine: codegen equals interpreted eval, incl. NULL and []") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq(null, "", " ", "  ", "solo", "two words", "a b c", "a b c a b c a b c",
      " lead ing", "trail ing ", "dou  ble x", "tab\tis not a sep", "nb\u00a0sp is not one",
      "café 日本語 😀 Ωmega naïve")
    val arr = texts.map(t => if (t == null) "NULL" else s"'${t.replace("'", "\\'")}'").mkString(", ")
    val (a, b, p) = (1103515245L, 12345L, 536870909L)
    // a range-backed frame keeps both expressions inside a whole-stage
    // codegen'd Project (a local Seq would constant-fold to interpreted eval)
    val df = spark.range(texts.size)
      .selectExpr("id", s"element_at(array($arr), cast(id + 1 AS int)) AS t")
      .selectExpr("id", "graft_shingle_h60(t) AS hs",
        s"graft_minhash_affine(graft_shingle_h60(t), $a, $b, $p) AS m",
        s"graft_minhash_affine(IF(id = 0, NULL, array(shiftleft(7L, 32))), 3, 5, 11) AS m_null")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("graft_shingle_h60") &&
      plan.contains("graft_minhash_affine"), s"expressions fell out of codegen:\n$plan")
    val got = df.collect().map(r => r.getLong(0).toInt ->
      (r.getSeq[Long](1), Option(r.get(2)), Option(r.get(3)))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val hs = ShingleH60(Literal.create(t, StringType)).eval(null).asInstanceOf[ArrayData]
      val hsLit = Literal(hs, ArrayType(LongType, containsNull = false))
      val m = MinHashAffine(hsLit, Literal(a), Literal(b), Literal(p)).eval(null)
      assert(got(i)._1 === hs.toLongArray().toSeq, s"hs codegen != eval for [$t]")
      assert(got(i)._2 === Option(m), s"min codegen != eval for [$t]")
    }
    assert(got(0)._1.isEmpty && got(0)._2.isEmpty, "NULL text: [] and a NULL min")
    assert(got(0)._3.isEmpty && got(1)._3 === Some((7L * 3 + 5) % 11), "NULL hs gives NULL")
    // [] -> NULL min on the interpreted path too
    val empty = Literal(ArrayData.toArrayData(Array.empty[Long]), ArrayType(LongType, false))
    assert(MinHashAffine(empty, Literal(a), Literal(b), Literal(p)).eval(null) == null)
    // "a b c" is one shingle: the first 15 hex digits of md5("a b c")
    val md5 = java.security.MessageDigest.getInstance("MD5").digest("a b c".getBytes("UTF-8"))
    val hex = md5.map("%02x".format(_)).mkString
    assert(got(6)._1 === Seq(java.lang.Long.parseLong(hex.take(15), 16)))
  }

  test("ThresholdLevenshtein preserves null semantics") {
    import spark.implicits._
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ graft.functions.ThresholdLevenshtein
    try {
      val df = Seq((Option("abc"), Option("abd")), (None, Option("x")), (Option("x"), None))
        .toDF("a", "b")
      val kept = df.filter(expr("levenshtein(a, b) <= 3")).collect()
      assert(kept.length === 1, "null inputs must not satisfy the bounded predicate")
    } finally spark.experimental.extraOptimizations = before
  }
}
