package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BpeRunCount, CleanText, IntDot, LangMarkerCounts, LshSig, MaxMultiplicity, MinHashShingleSig, MinHashSig, NormTokens, PolarityScore, SignBits, SimHash64, SortedIntersectSize, SortedIntersectSizeLong, SqMaxAbs, SqQDot, VecCosine, VecDot, VecL2Sq}

/** Session extensions: registers the engine's native expressions for SQL
  * use. Attach with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`; after that
  * `SELECT graft_polarity(text), graft_simhash64(tokens) FROM …` works
  * from plain SQL. It injects functions only: no planner strategy and
  * no optimizer rule, so a query plans the same with or without it
  * (the grouped top-k operator registers itself, `graft.plans.GroupedTopK`).
  */
object GraftExtensions {

  /** arity-checked builder: wrong argument counts must fail analysis,
    * not silently drop arguments
    */
  private def checked(name: String, arity: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression = {
    exprs =>
      if (exprs.length != arity) {
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> arity.toString,
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      }
      build(exprs)
  }

  val polarityBuilder: Seq[Expression] => Expression =
    checked("graft_polarity", 1)(e => PolarityScore(e.head))

  /** every registered function: name -> (impl class, builder) */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_polarity", classOf[PolarityScore], polarityBuilder),
    ("graft_simhash64", classOf[SimHash64],
      checked("graft_simhash64", 1)(e => SimHash64(e.head))),
    ("graft_minhash16", classOf[MinHashSig],
      checked("graft_minhash16", 1)(e => MinHashSig(e.head))),
    ("graft_minhash16_shingle", classOf[MinHashShingleSig],
      checked("graft_minhash16_shingle", 1)(e => MinHashShingleSig(e.head))),
    ("graft_norm_tokens", classOf[NormTokens],
      checked("graft_norm_tokens", 1)(e => NormTokens(e.head))),
    ("graft_clean_text", classOf[CleanText],
      checked("graft_clean_text", 1)(e => CleanText(e.head))),
    ("graft_lang_counts", classOf[LangMarkerCounts],
      checked("graft_lang_counts", 1)(e => LangMarkerCounts(e.head))),
    ("graft_max_multiplicity", classOf[MaxMultiplicity],
      checked("graft_max_multiplicity", 1)(e => MaxMultiplicity(e.head))),
    ("graft_lsh_sig", classOf[LshSig],
      checked("graft_lsh_sig", 1)(e => LshSig(e.head))),
    ("graft_dot", classOf[VecDot],
      checked("graft_dot", 2)(e => VecDot(e(0), e(1)))),
    ("graft_cosine", classOf[VecCosine],
      checked("graft_cosine", 2)(e => VecCosine(e(0), e(1)))),
    ("graft_l2sq", classOf[VecL2Sq],
      checked("graft_l2sq", 2)(e => VecL2Sq(e(0), e(1)))),
    ("graft_bpe_runs", classOf[BpeRunCount],
      checked("graft_bpe_runs", 1)(e => BpeRunCount(e.head))),
    ("graft_sq_maxabs", classOf[SqMaxAbs],
      checked("graft_sq_maxabs", 1)(e => SqMaxAbs(e.head))),
    ("graft_sq_qdot", classOf[SqQDot],
      checked("graft_sq_qdot", 2)(e => SqQDot(e(0), e(1)))),
    ("graft_sorted_intersect_size", classOf[SortedIntersectSize],
      checked("graft_sorted_intersect_size", 2)(e =>
        SortedIntersectSize(e(0), e(1)))),
    ("graft_sorted_intersect_size_long", classOf[SortedIntersectSizeLong],
      checked("graft_sorted_intersect_size_long", 2)(e =>
        SortedIntersectSizeLong(e(0), e(1)))),
    ("graft_sign_bits", classOf[SignBits],
      checked("graft_sign_bits", 1)(e => SignBits(e.head))),
    ("graft_int_dot", classOf[IntDot],
      checked("graft_int_dot", 2)(e => IntDot(e(0), e(1)))))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
  }
}
