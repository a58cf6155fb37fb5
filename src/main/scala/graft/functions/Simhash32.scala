package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Native 32-bit byte-window SimHash (the `mm_simhash_payload` /
  * `mm_neardup_cluster` fingerprint, round-18 guide §4): per payload, md5
  * every overlapping 4-byte window, accumulate ±1 per bit of the 60-bit
  * hash's low 32 bits, and emit Σ_j (s_j > 0 ? 1<<j : 0) — in ONE linear
  * pass with a reused thread-local MessageDigest and a preallocated
  * digest buffer. The declarative pipeline this replaces exploded every
  * window into a row (corpus bytes × row overhead), materialized a
  * 4-byte UTF8String/binary slice per window, paid an interpreted
  * md5hash60 call each, and updated 32 separate conditional-sum
  * aggregation buffers per row; values are identical — same bytes
  * digested, same first-60-bits read, same sign rule — and the
  * declarative form is retained as the A/B witness
  * (test-side `DecodeWitnesses.simhashPayloadHofOf`). Payloads shorter
  * than 4 bytes have no window: every s_j is 0, none is > 0, result 0 —
  * the CALLER filters those out exactly as the oracle's
  * `length(text) >= 4` does, so the value never surfaces. */
case class Simhash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a binary argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash32"

  override def nullSafeEval(input: Any): Any =
    Simhash32.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Simhash32.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Simhash32 =
    copy(child = newChild)
}

object Simhash32 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val buf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  def compute(bytes: Array[Byte]): Long = {
    val digest = md.get()
    val out = buf.get()
    val s = new Array[Int](32)
    val n = bytes.length - 3
    var i = 0
    while (i < n) {
      digest.update(bytes, i, 4)
      digest.digest(out, 0, 16) // writes into out and resets the instance
      // first 60 bits of the digest big-endian — exactly Md5Hash60.hash60;
      // the sign loop below reads its low 32 bits
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (out(k) & 0xffL); k += 1 }
      val hv = (v << 4) | ((out(7) & 0xf0L) >>> 4)
      var j = 0
      while (j < 32) {
        if (((hv >>> j) & 1L) == 1L) s(j) += 1 else s(j) -= 1
        j += 1
      }
      i += 1
    }
    var h = 0L
    var j = 0
    while (j < 32) { if (s(j) > 0) h |= 1L << j; j += 1 }
    h
  }
}
