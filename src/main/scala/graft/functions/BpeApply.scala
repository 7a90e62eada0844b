package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen BPE apply: encode a word with a FIXED ordered merge
  * table by rank sweep — for each merge rank in order, one left-to-right
  * greedy non-overlapping pass replacing adjacent symbol pairs (a, b)
  * with the merged symbol a+b; initial symbols are the word's code
  * points. One O(codepoints × ranks) loop per row.
  *
  * Why a custom Expression (SURVEY §4.3 — only after a measured need,
  * 6th in the family): the composed per-rank form — k chained
  * `aggregate(slice(s,2,…), element_at(s,1), merge-or-append)` folds —
  * is semantically exact but physically explosive: each fold references
  * its input 3-4×, and CollapseProject re-inlines the chained
  * projections, so the executed plan grows ~4^k nodes (measured round
  * 11, BENCH_NOTES §22, at sf0.01: plan text 7 KB at k=1, 114 KB at
  * k=4, 1.0 MB at k=6 with 43 s execution; k=12 never returned).
  * Keeping the projections un-collapsed would still leave k interpreted
  * lambda passes per row. The expression replaces all of it with one
  * codegen'd call.
  *
  * Semantics are IDENTICAL to the fold form, element for element
  * (pinned in RefinerySpec at k small enough for the composed plan to
  * run): scanning left to right, a pair merges when the PREVIOUS kept
  * symbol equals a and the current equals b; the merged symbol is not
  * re-examined against the same rank (non-overlap greed), but IS
  * visible to later ranks — cascaded merges like (p, ar) work. Code
  * points, not UTF-16 units, mirror the oracle's character semantics
  * (DuckDB substring counts characters). NULL word → NULL (null
  * propagation via nullSafeEval); empty word → empty array.
  */
case class BpeApply(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  require(merges.nonEmpty, "bpe_apply needs at least one merge rank")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_apply expects string, got $other")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // flat (a0, b0, ab0, a1, b1, ab1, …) so the hot loop never allocates
  @transient private lazy val flat: Array[UTF8String] =
    merges.iterator.flatMap { case (a, b) =>
      Iterator(UTF8String.fromString(a), UTF8String.fromString(b),
        UTF8String.fromString(a + b))
    }.toArray

  override def nullSafeEval(input: Any): Any =
    BpeApply.compute(input.asInstanceOf[UTF8String], flat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // NB: classOf[Array[…]].getName is the JVM descriptor ("[L…;"), not
    // Java source syntax — spell the array type out or codegen fails to
    // javac and silently falls back to interpreted eval
    val ref = ctx.addReferenceObj("graftBpeMerges", flat,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.BpeApply.compute($c, $ref);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeApply {

  /** Shared by interpreted eval and generated code (one JIT-able body).
    * `flat` holds (a, b, merged) triples in rank order.
    */
  def compute(word: UTF8String, flat: Array[UTF8String]): ArrayData = {
    // split into code points (DuckDB-character semantics)
    val s = word.toString
    var syms = new java.util.ArrayList[UTF8String](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      syms.add(UTF8String.fromString(s.substring(i, i + n)))
      i += n
    }
    var r = 0
    while (r < flat.length) {
      val a = flat(r); val b = flat(r + 1); val ab = flat(r + 2)
      val out = new java.util.ArrayList[UTF8String](syms.size())
      var j = 0
      val n = syms.size()
      while (j < n) {
        if (j + 1 < n && syms.get(j).equals(a) && syms.get(j + 1).equals(b)) {
          out.add(ab); j += 2
        } else {
          out.add(syms.get(j)); j += 1
        }
      }
      syms = out
      r += 3
    }
    new GenericArrayData(syms.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  /** Column-API entry point (bridged like the other five expressions). */
  def bpe_apply(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.toColumn(BpeApply(ColumnBridge.toExpr(word), merges))
}
