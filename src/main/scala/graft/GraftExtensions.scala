package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomContains, BpeApply, CharBigramCounts, DistinctNgrams, MinGramMd5, NfcNormalize, VecDot}

/** Session extension (SURVEY §2.K4 surface): registers the library's native
  * functions into the SQL function registry, so the raw-SQL surface
  * (Tables.sql / spark.sql) reaches the same codegen expressions as the
  * Column API.
  *
  * Wire-up options, both standard Spark:
  *   - config: `spark.sql.extensions=graft.GraftExtensions`
  *   - code:   `.withExtensions(new GraftExtensions)` on the session builder
  *   - an existing session: `GraftExtensions.register(spark)`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Arity mismatch surfaces as the same WRONG_NUM_ARGS AnalysisException
    * Spark built-ins raise (SQL callers get a categorized 42605 analysis
    * error, not an uncategorized runtime throwable).
    */
  private def wrongNumArgs(fn: String, expected: Int, actual: Int): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$fn`",
        "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  /** A bad parameter VALUE (right arity, wrong content) surfaces as the
    * INVALID_PARAMETER_VALUE analysis error Spark built-ins use, with the
    * free-form PATTERN subclass carrying the detail (ADVICE r7: this used
    * to reuse WRONG_NUM_ARGS with actualNum set to the literal's value —
    * a misleading arity error for a type/value problem).
    */
  private def invalidParam(fn: String, param: String, detail: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "INVALID_PARAMETER_VALUE.PATTERN",
      messageParameters = Map(
        "parameter" -> s"`$param`",
        "functionName" -> s"`$fn`",
        "value" -> detail))

  /** A gram-size argument `n`: any foldable INTEGRAL literal ≥ 1
    * (ADVICE r7: a BIGINT-typed literal like CAST(8 AS BIGINT) is a fine
    * gram size; rejecting it — or n < 1 — must surface as an
    * invalid-PARAMETER error, not a misleading WRONG_NUM_ARGS arity
    * error).
    */
  private def positiveIntLiteral(fn: String, n: Expression): Int =
    if (!n.foldable) invalidParam(fn, "n", "expects a foldable positive integer literal")
    else n.eval() match {
      // SQL decimal literals (`8.0` is DECIMAL(2,1), whose eval is
      // types.Decimal — NOT a java.lang.Number) are accepted when
      // integral, consistent with the integral-DOUBLE case below
      // (ADVICE r8: `8.0D` worked but `8.0` did not).
      case d: org.apache.spark.sql.types.Decimal
          if d.toBigDecimal.isWhole && d.toBigDecimal >= 1 &&
            d.toBigDecimal <= Int.MaxValue =>
        d.toBigDecimal.toIntExact
      case num: java.lang.Number
          if num.longValue().toDouble == num.doubleValue() &&
            num.longValue() >= 1L && num.longValue() <= Int.MaxValue.toLong =>
        num.intValue()
      case other =>
        invalidParam(fn, "n",
          s"expects a positive integer literal, but got ${if (other == null) "NULL" else other.toString}")
    }

  private def descriptor(name: String, cls: Class[_], usage: String)(
      builder: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getCanonicalName, null, name, usage, ""), builder)

  /** The (name, info, builder) triples in the shape injectFunction and
    * registerFunction expect. */
  private val descriptors: Seq[Descriptor] = Seq(
    descriptor("vec_dot", classOf[VecDot],
      "vec_dot(a, b) - sequential double dot product of two float arrays") {
      case Seq(a, b) => VecDot(a, b)
      case other => wrongNumArgs("vec_dot", 2, other.size)
    },
    descriptor("nfc_normalize", classOf[NfcNormalize],
      "nfc_normalize(s) - Unicode canonical composition (NFC) of a string") {
      case Seq(s) => NfcNormalize(s)
      case other => wrongNumArgs("nfc_normalize", 1, other.size)
    },
    descriptor("bloom_contains", classOf[BloomContains],
      "bloom_contains(sketch, h) - probe a serialized Bloom filter (literal binary) for a bigint; " +
        "false positives at the built fpp, false negatives never") {
      case Seq(s, h) => BloomContains(s, h)
      case other => wrongNumArgs("bloom_contains", 2, other.size)
    },
    descriptor("min_gram_md5", classOf[MinGramMd5],
      "min_gram_md5(s, n) - minimum md5 hex over all character n-grams of s " +
        "(n a positive integer literal); NULL when s has fewer than n characters") {
      case Seq(s, n) => MinGramMd5(s, positiveIntLiteral("min_gram_md5", n))
      case other => wrongNumArgs("min_gram_md5", 2, other.size)
    },
    descriptor("distinct_ngrams", classOf[DistinctNgrams],
      "distinct_ngrams(t, n) - distinct space-joined word n-grams of a string array, " +
        "first-occurrence order (n a positive integer literal); empty when t has fewer than n elements") {
      case Seq(t, n) => DistinctNgrams(t, positiveIntLiteral("distinct_ngrams", n))
      case other => wrongNumArgs("distinct_ngrams", 2, other.size)
    },
    descriptor("bpe_apply", classOf[BpeApply],
      "bpe_apply(w, firsts, seconds) - BPE rank-sweep encode of word w with the merge table " +
        "zip(firsts, seconds) (two equal-length non-empty array<string> literals — two arrays " +
        "because symbols may contain any would-be delimiter character)") {
      case Seq(w, as, bs) if as.foldable && bs.foldable =>
        import org.apache.spark.sql.catalyst.util.ArrayData
        import org.apache.spark.sql.types.{ArrayType, StringType}
        def strings(e: Expression): Option[Seq[String]] = (e.dataType, e.eval()) match {
          case (ArrayType(StringType, _), a: ArrayData) =>
            val out = (0 until a.numElements()).map(i =>
              Option(a.getUTF8String(i)).map(_.toString).orNull)
            if (out.contains(null)) None else Some(out)
          case _ => None
        }
        (strings(as), strings(bs)) match {
          case (Some(a), Some(b)) if a.size == b.size && a.nonEmpty =>
            BpeApply(w, a.zip(b))
          case (Some(a), Some(b)) =>
            invalidParam("bpe_apply", "merges",
              s"expects two equal-length non-empty array<string> literals, got sizes ${a.size} and ${b.size}")
          case _ =>
            invalidParam("bpe_apply", "merges",
              "expects two non-null array<string> literals without null elements")
        }
      case Seq(_, _, _) =>
        invalidParam("bpe_apply", "merges", "expects two foldable array<string> literals")
      case other => wrongNumArgs("bpe_apply", 3, other.size)
    },
    descriptor("char_bigram_counts", classOf[CharBigramCounts],
      "char_bigram_counts(s) - per-row histogram of the 2-codepoint windows of s as " +
        "array<struct<bg string, cnt bigint>> in first-occurrence order (empty for < 2 codepoints)") {
      case Seq(s) => CharBigramCounts(s)
      case other => wrongNumArgs("char_bigram_counts", 1, other.size)
    })

  /** Register into an already-built session (tests, notebooks). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
