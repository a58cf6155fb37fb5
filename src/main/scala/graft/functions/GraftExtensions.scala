package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's `SparkSessionExtensions` hook (SURVEY.md §7.1's "extension
  * seam"): registers the native functions with the session's
  * FunctionRegistry, so they resolve by name from both `spark.sql("...
  * cosine_sim(a,b) ...")` and `functions.call_function("cosine_sim", ...)`.
  * Installed by [[graft.Sessions]] via `builder.withExtensions`; a cluster
  * deployment would set `spark.sql.extensions=graft.functions.GraftExtensions`
  * instead — same class, config-driven.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.install(ext)
}

object GraftExtensions {
  /** Every native function as (SQL name, expression class, arity,
    * constructor over the arity-checked argument list). */
  private val natives
      : Seq[(String, Class[_ <: Expression], Int, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], 2, c => CosineSimilarity(c(0), c(1))),
    ("md5hash60", classOf[Md5Hash60], 1, c => Md5Hash60(c(0))),
    ("winnow_fps", classOf[WinnowFps], 1, c => WinnowFps(c(0))),
    ("winnow_md5_fps", classOf[WinnowMd5Fps], 1, c => WinnowMd5Fps(c(0))),
    ("simhash32", classOf[Simhash32], 1, c => Simhash32(c(0))),
    ("bootstrap_w60", classOf[BootstrapW60], 1, c => BootstrapW60(c(0))),
    ("cdc_chunks", classOf[CdcChunks], 1, c => CdcChunks(c(0))),
    ("block_means64", classOf[BlockMeans64], 3, c => BlockMeans64(c(0), c(1), c(2))),
    ("hilbertkey", classOf[HilbertKey], 3, c => HilbertKey(c(0), c(1), c(2))),
    ("ascii_codes", classOf[AsciiCodes], 1, c => AsciiCodes(c(0))),
    ("byte_vals", classOf[ByteVals], 1, c => ByteVals(c(0))),
    ("dct_phash", classOf[DctPhash], 1, c => DctPhash(c(0))),
    ("lz_stream_decode", classOf[LzStreamDecode], 1, c => LzStreamDecode(c(0))),
    ("rle_stream_decode", classOf[RleStreamDecode], 1, c => RleStreamDecode(c(0))),
    ("huff_stream_decode", classOf[HuffStreamDecode], 1, c => HuffStreamDecode(c(0))),
    ("rle_payload", classOf[RlePayload], 2, c => RlePayload(c(0), c(1))),
    ("huff_payload", classOf[HuffPayload], 2, c => HuffPayload(c(0), c(1))),
    ("lz_payload", classOf[LzPayload], 2, c => LzPayload(c(0), c(1))),
    ("cascade_sigs", classOf[CascadeSigs], 1, c => CascadeSigs(c(0))))

  def install(ext: SparkSessionExtensions): Unit =
    natives.foreach { case (name, cls, arity, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity, s"$name expects $arity " +
            s"argument${if (arity == 1) "" else "s"}, got ${children.length}")
          build(children)
        }))
    }
}
