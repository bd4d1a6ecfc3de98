package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.LongType

import graft.text.TextOps

/** SQL-function surface built from raw Catalyst expression trees (no UDFs,
  * fully codegen'd): the two reference cleaning dialects and the Hamming
  * distance, callable from `spark.sql` as `graft_clean_nb(text)` etc.
  * Injected via [[graft.GraftExtensions]] (`spark.sql.extensions`) or
  * imperatively with [[register]].
  */
object GraftFunctions {

  private def rr(e: Expression, re: String, rep: String): Expression =
    RegExpReplace(e, Literal(re), Literal(rep))

  /** NB-dialect clean chain (NB.java:67-73 order) as an expression tree. */
  def cleanNbExpr(c: Expression): Expression =
    rr(StringTrim(Lower(
      rr(rr(rr(rr(c, TextOps.NbUrlRe, ""), TextOps.MentionRe, ""), "\\d+", ""), "[^a-zA-Z ]", " "))),
      "\\s+", " ")

  /** SVM-dialect clean chain (SVM.java:76-79 order). */
  def cleanSvmExpr(c: Expression): Expression =
    StringTrim(rr(rr(rr(Lower(c), TextOps.SvmUrlRe, " "), "[^a-zA-Z ]", " "), "\\s+", " "))

  /** Single source of truth for both registration paths (imperative
    * [[register]] and [[graft.GraftExtensions]]). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_clean_nb" -> { args => cleanNbExpr(args.head) },
    "graft_clean_svm" -> { args => cleanSvmExpr(args.head) },
    "graft_hamming" -> { args => HammingDistance(args(0), args(1)) },
    "graft_nfc" -> { args => NfcNormalize(args.head) },
    "graft_dot" -> { args => DotProductLong(args(0), args(1)) },
    "graft_mingram8" -> { args => MinGram8Hash(args.head) },
    "graft_shingle_h60" -> { args => ShingleH60(args.head) },
    "graft_minhash_affine" -> { args =>
      MinHashAffine(args(0), Cast(args(1), LongType), Cast(args(2), LongType), Cast(args(3), LongType))
    },
    "graft_hilbert" -> { args => HilbertIndex(args(0), args(1)) },
    "graft_viterbi" -> { args => ViterbiCost(args.head) },
    "graft_wordpiece" -> { args => WordPieceEncode(args.head) },
    "graft_wordpiece_pieces" -> { args => WordPieceSegments(args.head) },
    // Spark's runtime-filter Bloom expressions (BloomFilterAggregate /
    // BloomFilterMightContain) are not in the public FunctionRegistry;
    // exposing them makes the classic 100 TB semi-join reduction —
    // distributed sketch build, map-side probe — writable as a plain query
    // (see ScaleOps.bf1). Args: (xxhash64 value, est items, num bits).
    "graft_bloom_agg" -> { args =>
      new aggregate.BloomFilterAggregate(args(0), args(1), args(2)).toAggregateExpression()
    },
    "graft_might_contain" -> { args => BloomFilterMightContain(args(0), args(1)) },
  )

  /** Idempotently register all graft functions on a session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      val ident = FunctionIdentifier(name)
      if (!registry.functionExists(ident)) {
        registry.registerFunction(
          ident,
          new ExpressionInfo("graft.functions.GraftFunctions", name),
          builder)
      }
    }
  }
}
