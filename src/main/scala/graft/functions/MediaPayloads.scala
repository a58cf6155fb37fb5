package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The synthesized media-payload builders of the `mm_rle_decode`,
  * `mm_huffman_decode` and `mm_lz_decode` lanes as native expressions:
  * `rle_payload(text, q)`, `huff_payload(text, q)` and `lz_payload(text, q)`
  * each return the `RL1\n…` / `HF1\n…` / `LZ1\n…` payload string of one
  * document, `q` being the corpus token divisor of
  * `MultimodalOps.rleTokDivOf`.
  *
  * The higher-order-function forms built each payload through interpreted
  * `transform`/`aggregate`/`array_join` lambdas over `sequence(...)` — one
  * lambda evaluation, one single-character string and one concat per token
  * or bit group — and dominated those lanes' CPU once the stream decoders
  * went native. Each builder here is one code-point loop writing the same
  * characters into one buffer, inlined into whole-stage codegen via a
  * static call (the [[RleStreamDecode]] pattern). The test-side
  * `DecodeWitnesses` keeps the lambda forms verbatim, and
  * `MediaPayloadsSpec` pins native ≡ lambda byte for byte.
  *
  * Spark semantics reproduced exactly:
  *  - `chr(v)`: `""` for v < 0, otherwise the one char `v & 0xFF`;
  *  - `floor(x / q)` is a double division;
  *  - `element_at(ascii_codes(text), j % n + 1)` is 1-based over code
  *    points and `length(text)` counts code points.
  *
  * Null when `text` or `q` is null, and also when `text` is empty or
  * `q = 0`: the lambda forms divide by `n` and `q` there (an error under
  * ANSI), and the lanes never reach them — their input is the non-empty
  * documents and `q ≥ 1`.
  */
abstract class MediaPayload extends BinaryExpression {
  protected def builder: String

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string text, bigint q), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, q) =>
      s"""${ev.value} = graft.functions.$builder($t, $q);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
}

/** `rle_payload(text, q)`: `RL1\n`, then max(3, ⌊(8 + 3n mod 57) / q⌋)
  * tokens; token j with u = (cp[j mod n]·37 + 11j) mod 96 is a repeat
  * `chr(64 + u mod 60) chr(32 + (5u + j) mod 96)` when u ≡ 0 (mod 3), else
  * a literal run of l = 1 + u mod 5: `chr(l)` then
  * `chr(32 + (7u + j + 13i) mod 96)` for i < l. */
case class RlePayload(left: Expression, right: Expression) extends MediaPayload {
  override def prettyName: String = "rle_payload"
  override protected def builder: String = "RlePayload.build"

  override def nullSafeEval(t: Any, q: Any): Any =
    RlePayload.build(t.asInstanceOf[UTF8String], q.asInstanceOf[Long])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RlePayload = copy(left = newLeft, right = newRight)
}

object RlePayload {
  import MediaPayload.{chr, codePoints, floorDiv}

  def build(text: UTF8String, q: Long): UTF8String = {
    val cp = codePoints(text)
    val n = cp.length.toLong
    if (n == 0L || q == 0L) return null
    val tokens = math.max(3L, floorDiv(8L + (n * 3L) % 57L, q))
    val sb = new java.lang.StringBuilder("RL1\n")
    var j = 0L
    while (j < tokens) {
      val u = (cp((j % n).toInt) * 37L + j * 11L) % 96L
      if (u % 3L == 0L) {
        chr(sb, 64L + u % 60L)
        chr(sb, 32L + (u * 5L + j) % 96L)
      } else {
        val l = 1L + u % 5L
        chr(sb, l)
        var i = 0L
        while (i < l) { chr(sb, 32L + (u * 7L + j + i * 13L) % 96L); i += 1L }
      }
      j += 1L
    }
    UTF8String.fromString(sb.toString)
  }
}

/** `huff_payload(text, q)`: `HF1\n`, the symbol count m = max(2,
  * ⌊(8 + 5n mod 48) / q⌋) as `chr(32 + ⌊m / 64⌋) chr(32 + m mod 64)`, then
  * the comma codes of k_j = (cp[j mod n]·29 + 13j) mod 8 (k ones then a
  * zero; seven ones for k = 7), padded with ones to a 6-bit boundary and
  * packed MSB-first as `chr(32 + bits)`. */
case class HuffPayload(left: Expression, right: Expression) extends MediaPayload {
  override def prettyName: String = "huff_payload"
  override protected def builder: String = "HuffPayload.build"

  override def nullSafeEval(t: Any, q: Any): Any =
    HuffPayload.build(t.asInstanceOf[UTF8String], q.asInstanceOf[Long])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HuffPayload = copy(left = newLeft, right = newRight)
}

object HuffPayload {
  import MediaPayload.{chr, codePoints, floorDiv}

  def build(text: UTF8String, q: Long): UTF8String = {
    val cp = codePoints(text)
    val n = cp.length.toLong
    if (n == 0L || q == 0L) return null
    val m = math.max(2L, floorDiv(8L + (n * 5L) % 48L, q))
    val sb = new java.lang.StringBuilder("HF1\n")
    chr(sb, 32L + floorDiv(m, 64L))
    chr(sb, 32L + m % 64L)
    // the bit accumulator: a group of 6 is emitted as soon as it fills
    var acc = 0L
    var nb = 0
    def bit(b: Long): Unit = {
      acc = (acc << 1) | b
      nb += 1
      if (nb == 6) { chr(sb, 32L + acc); acc = 0L; nb = 0 }
    }
    var j = 0L
    while (j < m) {
      val k = (cp((j % n).toInt) * 29L + j * 13L) % 8L
      var o = 0L
      while (o < k) { bit(1L); o += 1L }
      if (k != 7L) bit(0L)
      j += 1L
    }
    while (nb != 0) bit(1L)
    UTF8String.fromString(sb.toString)
  }
}

/** `lz_payload(text, q)`: `LZ1\n`, the token count T as
  * `chr(32 + ⌊T / 64⌋) chr(32 + T mod 64)`, an 8-literal preamble
  * `L chr(32 + (dh + 17i) mod 96)` with dh = (cp[0]·31) mod 96, then for
  * each of m = max(4, ⌊(8 + 7n mod 40) / q⌋) steps with
  * u = (cp[j mod n]·23 + 19j) mod 96 a literal `L chr(32 + (5u + j) mod 96)`,
  * followed when u ≡ 1 (mod 3) by the overlapping copy `C chr(32 + l) " !"`
  * (l = 2 + u mod 6, distance 1), and when u ≡ 2 by the preamble copy
  * `C chr(32 + p) chr(32 + ⌊d / 64⌋) chr(32 + d mod 64)` (p = 1 + u mod 4,
  * d = the output length after the literal). */
case class LzPayload(left: Expression, right: Expression) extends MediaPayload {
  override def prettyName: String = "lz_payload"
  override protected def builder: String = "LzPayload.build"

  override def nullSafeEval(t: Any, q: Any): Any =
    LzPayload.build(t.asInstanceOf[UTF8String], q.asInstanceOf[Long])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LzPayload = copy(left = newLeft, right = newRight)
}

object LzPayload {
  import MediaPayload.{chr, codePoints, floorDiv}

  def build(text: UTF8String, q: Long): UTF8String = {
    val cp = codePoints(text)
    val n = cp.length.toLong
    if (n == 0L || q == 0L) return null
    val dh = (cp(0) * 31L) % 96L
    val m = math.max(4L, floorDiv(8L + (n * 7L) % 40L, q))
    val s = new java.lang.StringBuilder()
    var i = 0L
    while (i < 8L) { s.append('L'); chr(s, 32L + (dh + i * 17L) % 96L); i += 1L }
    var off = 8L
    var tk = 8L
    var j = 0L
    while (j < m) {
      val u = (cp((j % n).toInt) * 23L + j * 19L) % 96L
      s.append('L'); chr(s, 32L + (u * 5L + j) % 96L)
      if (u % 3L == 0L) { off += 1L; tk += 1L }
      else if (u % 3L == 1L) {
        val l = 2L + u % 6L
        s.append('C'); chr(s, 32L + l); s.append(" !")
        off += 1L + l; tk += 2L
      } else {
        val p = 1L + u % 4L
        val dist = off + 1L
        s.append('C'); chr(s, 32L + p)
        chr(s, 32L + floorDiv(dist, 64L))
        chr(s, 32L + dist % 64L)
        off += 1L + p; tk += 2L
      }
      j += 1L
    }
    val sb = new java.lang.StringBuilder(s.length + 6).append("LZ1\n")
    chr(sb, 32L + floorDiv(tk, 64L))
    chr(sb, 32L + tk % 64L)
    UTF8String.fromString(sb.append(s).toString)
  }
}

object MediaPayload {
  /** The code points of `s`, as `ascii_codes` yields them. */
  def codePoints(s: UTF8String): Array[Int] = s.toString.codePoints().toArray

  /** Appends Spark's `chr(v)`: nothing for v < 0, else the char `v & 0xFF`. */
  def chr(sb: java.lang.StringBuilder, v: Long): Unit =
    if (v >= 0L) sb.append((v & 0xFFL).toChar)

  /** `floor(a / b)` as Spark computes it for bigint operands: the division
    * is a double division. */
  def floorDiv(a: Long, b: Long): Long = math.floor(a.toDouble / b.toDouble).toLong
}
