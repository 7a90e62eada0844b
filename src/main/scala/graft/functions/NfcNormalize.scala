package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen Unicode NFC normalization of a string column.
  *
  * Spark ships no Unicode normalizer (SPARK-47357 territory): text
  * pipelines that dedup or fingerprint by content hash MUST normalize
  * first, or "Café" (é precomposed, U+00E9) and "Café" (e + combining
  * acute, U+0065 U+0301) — byte-different, render-identical — land in
  * different dedup clusters and different shards. The oracle twin is
  * DuckDB's `nfc_normalize`; both sides implement Unicode Standard Annex
  * #15 canonical composition, so outputs are byte-equal.
  *
  * The generated code calls `java.text.Normalizer` (ICU-equivalent for
  * NFC) inside the whole-stage loop — no row boxing, no UDF wrapper. The
  * dominant cost for already-normalized text (virtually all real corpora)
  * is one `isNormalized` scan; the allocation-heavy `normalize` call runs
  * only on strings that actually contain decomposed sequences.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize expects string, got $other")
    }

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {

  /** Shared by interpreted eval and generated code (one JIT-able body). */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Column-API entry point: `nfc_normalize(s)` (bridged via [[ColumnBridge]]). */
  def nfc_normalize(s: Column): Column =
    ColumnBridge.toColumn(NfcNormalize(ColumnBridge.toExpr(s)))
}
