package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `block_means64(raster, w, h)`: the canonical 8×8 block-mean downsample
  * of a w×h PGM raster string as one `array<bigint>` of 64 luma means —
  * the native form of the `transform(sequence(0, 63), i -> floor(
  * aggregate(tile-of-i, ...) / cnt))` fold the `mm_phash_pgm` lane paid
  * (round-18, guide §4): 64 interpreted `aggregate` lambdas, each doing a
  * per-element `element_at` + two divisions + a modulo over the
  * [[AsciiCodes]] array — w×h lambda evaluations per document through the
  * interpreted HOF evaluator. This expression is ONE sequential
  * code-point pass (same code points [[AsciiCodes.codesOf]] yields)
  * bucketing each pixel into its (y / hb, x / wb) block, then the same
  * floor-of-double division the Column fold evaluates (`floor(longSum /
  * longCnt)` divides as doubles — mirrored exactly so values are
  * bit-identical).
  *
  * Value contract (pinned by the MultimodalOpsSpec identity/block-mean
  * replays and the corpus A/B against the retained test-side HOF
  * witness `DecodeWitnesses.phashPgmHofOf`):
  *  - block (u, v), 0 ≤ u,v < 8, averages the hb×wb tile rows
  *    [u·hb, (u+1)·hb) × cols [v·wb, (v+1)·wb), hb = h>>3, wb = w>>3 —
  *    exactly the index set the fold's `element_at` walk reads;
  *  - a block whose tile extends past the raster's code points is NULL
  *    (the fold's out-of-range `element_at` nulls the whole sum);
  *  - wb = 0 or hb = 0 (dims < 8) yields 64 NULLs, matching the fold's
  *    divide-by-zero / null-index collapse on degenerate headers;
  *  - null iff any input is null.
  */
case class BlockMeans64(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == LongType &&
        third.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string raster, bigint w, bigint h), got " +
        s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString})")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable
  override def prettyName: String = "block_means64"

  override def nullSafeEval(s: Any, w: Any, h: Any): Any =
    BlockMeans64.means(s.asInstanceOf[UTF8String],
      w.asInstanceOf[Long], h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, w, h) =>
      s"${ev.value} = graft.functions.BlockMeans64.means($s, $w, $h);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): BlockMeans64 =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BlockMeans64 {
  def means(s: UTF8String, w: Long, h: Long): ArrayData = {
    val wb = w >> 3
    val hb = h >> 3
    val out = new Array[Any](64)
    // degenerate dims (< 8, or so large the tile count alone exceeds any
    // possible raster): every block is null, as the Column fold computes
    if (wb <= 0L || hb <= 0L || w > Int.MaxValue.toLong ||
        h > Int.MaxValue.toLong)
      return new GenericArrayData(out)
    val str = s.toString
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    val total = w * h
    var i = 0
    var idx = 0L
    while (i < str.length && idx < total) {
      val cp = str.codePointAt(i)
      val y = idx / w
      val x = idx - y * w
      val u = y / hb
      val v = x / wb
      // trailing rows/cols beyond the 8×8 tiling (dims not multiples of
      // 8) fall outside every tile, exactly as the fold never reads them
      if (u < 8L && v < 8L) {
        val b = (u * 8 + v).toInt
        sums(b) += cp
        cnts(b) += 1L
      }
      idx += 1L
      i += Character.charCount(cp)
    }
    val cnt = hb * wb
    var b = 0
    while (b < 64) {
      // the fold computes floor(longSum / longCnt): Spark's `/` promotes
      // both to double — mirror that division exactly
      if (cnts(b) == cnt)
        out(b) = math.floor(sums(b).toDouble / cnt.toDouble).toLong
      b += 1
    }
    new GenericArrayData(out)
  }
}
