package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen rolling-fingerprint primitive: the minimum md5 (hex) over
  * all character n-grams of a string — the winnowing-lite document
  * fingerprint of `doc_fingerprint` in one tight loop.
  *
  * Why a custom Expression (SURVEY §4.3 — only after a measured BENCH
  * need): the `aggregate(sequence(...), ..., least(md5(substring(...))))`
  * HOF formulation evaluates an interpreted lambda per position and
  * allocates a substring + digest + 32-char hex string per n-gram — for a
  * 400-char document that is ~400 interpreted evals per ROW. Measured at
  * sf0.1 under the honest noop-sink action: HOF form 4.07 s, this
  * expression ~0.15 s (the count()-action bench had hidden the cost
  * entirely — see BENCH_NOTES round-7 session 3).
  *
  * Semantics are IDENTICAL to the HOF form and the DuckDB oracle
  * (`min(md5(substring(text, i, n)))`): substring positions are
  * CHARACTER-based (both engines), md5 is over the gram's UTF-8 bytes,
  * and the minimum is over the 32-char lowercase hex strings — which
  * equals the unsigned-lexicographic minimum over the 16-byte digests, so
  * the loop compares raw digests and hex-encodes once at the end.
  * NULL when the string has fewer than n characters (the callers filter
  * on length first, matching the oracle's WHERE).
  *
  * Cost shape: one `MessageDigest.reset+update+digest` per gram with zero
  * other allocations on the ASCII fast path (gram bytes are a window into
  * the row's byte array; digests reuse two 16-byte scratch buffers); the
  * multi-byte path walks codepoint boundaries once per row and digests
  * byte windows between them — same zero-copy shape.
  */
case class MinGramMd5(child: Expression, gramLen: Int) extends UnaryExpression {

  require(gramLen >= 1, s"min_gram_md5 gram length must be >= 1, got $gramLen")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"min_gram_md5 expects string, got $other")
    }

  override def dataType: DataType = StringType

  /** NULL when input is NULL (UnaryExpression default) or shorter than n. */
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinGramMd5.minGram(input.asInstanceOf[UTF8String], gramLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinGramMd5.minGram($c, $gramLen);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinGramMd5 {

  /** Per-thread digest + scratch buffers: tasks are single-threaded, so a
    * ThreadLocal gives allocation-free reuse without sharing hazards. */
  private val state = new ThreadLocal[(java.security.MessageDigest, Array[Byte])] {
    override def initialValue(): (java.security.MessageDigest, Array[Byte]) =
      (java.security.MessageDigest.getInstance("MD5"), new Array[Byte](16))
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Unsigned-lexicographic compare of two 16-byte digests. */
  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Shared by interpreted eval and generated code (one JIT-able body). */
  def minGram(s: UTF8String, n: Int): UTF8String = {
    val numBytes = s.numBytes()
    val bytes = s.getBytes
    val md = state.get()._1
    var best: Array[Byte] = null
    var cur = state.get()._2
    if (numBytes == s.numChars()) {
      // ASCII fast path: char positions == byte positions
      if (numBytes < n) return null
      var i = 0
      val last = numBytes - n
      while (i <= last) {
        md.reset()
        md.update(bytes, i, n)
        md.digest(cur, 0, 16) // writes the digest into cur
        if (best == null) { best = cur.clone() }
        else if (lessThan(cur, best)) { System.arraycopy(cur, 0, best, 0, 16) }
        i += 1
      }
    } else {
      // Multi-byte path: walk codepoint start offsets once, then digest
      // byte windows [starts(i), starts(i+n)).
      val starts = new Array[Int](numBytes)
      var numChars = 0
      var off = 0
      while (off < numBytes) {
        starts(numChars) = off
        numChars += 1
        val b = bytes(off)
        off += (if ((b & 0x80) == 0) 1
                else if ((b & 0xe0) == 0xc0) 2
                else if ((b & 0xf0) == 0xe0) 3
                else 4)
      }
      if (numChars < n) return null
      var i = 0
      val last = numChars - n
      while (i <= last) {
        val from = starts(i)
        val until = if (i + n < numChars) starts(i + n) else numBytes
        md.reset()
        md.update(bytes, from, until - from)
        md.digest(cur, 0, 16)
        if (best == null) { best = cur.clone() }
        else if (lessThan(cur, best)) { System.arraycopy(cur, 0, best, 0, 16) }
        i += 1
      }
    }
    val out = new Array[Byte](32)
    var j = 0
    while (j < 16) {
      out(2 * j) = hexChars((best(j) >> 4) & 0xf).toByte
      out(2 * j + 1) = hexChars(best(j) & 0xf).toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Column-API entry point: `min_gram_md5(s, n)` (bridged via [[ColumnBridge]]). */
  def min_gram_md5(s: Column, n: Int): Column =
    ColumnBridge.toColumn(MinGramMd5(ColumnBridge.toExpr(s), n))
}
