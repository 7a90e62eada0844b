package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen per-row distinct word n-grams: the distinct space-joined
  * n-grams of a token array, first-occurrence order — one O(tokens)
  * hash-set pass.
  *
  * Why a custom Expression (SURVEY §4.3 — only after a measured BENCH
  * need): the composed form
  * `array_distinct(transform(sequence(1, size(t)-n+1), i -> concat(...)))`
  * runs INTERPRETED per element — the transform() lambda is a non-codegen
  * closure and each window pays a per-element Invoke + concat through the
  * interpreted eval path. (Attribution corrected round 11 after ADVICE
  * r10 + a scaling profile, BENCH_NOTES §20:
  * ArrayDistinct itself is LINEAR on string arrays in Spark 4.1.2 — its
  * interpreted eval takes the SQLOpenHashSet O(n) path for any element
  * type with binary-equality semantics, strings included; the pairwise
  * quadratic scan this scaladoc previously blamed applies only to types
  * without proper equals. The measured r10 wins are real but come from
  * deleting the interpreted-HOF term, not a quadratic dedup.) That
  * interpreted per-element cost is what lost the round-10 zero-shuffle
  * ngram_novelty A/B (one 2.8 s map stage at sf1, BENCH_NOTES §17) and
  * why dedup_ngram_jaccard paid a full-stream `distinct()` SHUFFLE for
  * what is purely within-row dedup. This expression makes the per-row
  * form one codegen'd O(total gram bytes) pass: each window is
  * concatenated once and deduped through a LinkedHashSet.
  *
  * Semantics are IDENTICAL to the composed form, element for element:
  * concat joins the n window tokens with single spaces; a window
  * containing a NULL token yields one NULL gram (concat's null
  * propagation), retained at its first occurrence like any other value
  * (array_distinct keeps a single null); first-occurrence order is
  * preserved (array_distinct's documented order ↔ LinkedHashSet insertion
  * order); fewer than n tokens yields an empty array — callers keep their
  * `size(t) >= n` row filter, which also matches the composed form's
  * sequence() guard. Pinned element-for-element against the composed form
  * in RegistryLintSpec.
  */
case class DistinctNgrams(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"distinct_ngrams n must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"distinct_ngrams expects array<string>, got $other")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    DistinctNgrams.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.DistinctNgrams.compute($c, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DistinctNgrams {

  private val Space = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code (one JIT-able body). */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val size = tokens.numElements()
    if (size < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var sawNull = false
    val out = new java.util.ArrayList[UTF8String]()
    val parts = new Array[UTF8String](2 * n - 1)
    var j = 1
    while (j < parts.length) { parts(j) = Space; j += 2 }
    var i = 0
    val last = size - n
    while (i <= last) {
      var k = 0
      var anyNull = false
      while (k < n) {
        val t = tokens.getUTF8String(i + k)
        if (t == null) anyNull = true else parts(2 * k) = t
        k += 1
      }
      if (anyNull) {
        // concat's null propagation: the gram is NULL; array_distinct
        // keeps a single null at its first occurrence
        if (!sawNull) { sawNull = true; out.add(null) }
      } else {
        val gram = UTF8String.concat(parts: _*)
        if (seen.add(gram)) out.add(gram)
      }
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  /** Column-API entry point: `distinct_ngrams(t, n)` (bridged via the
    * shared [[ColumnBridge]], same as VecDot/NfcNormalize/MinGramMd5). */
  def distinct_ngrams(tokens: Column, n: Int): Column =
    ColumnBridge.toColumn(DistinctNgrams(ColumnBridge.toExpr(tokens), n))
}
