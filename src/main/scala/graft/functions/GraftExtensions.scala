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
  def install(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"cosine_sim expects 2 arguments, got ${children.length}")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("md5hash60"),
      new ExpressionInfo(classOf[Md5Hash60].getName, "md5hash60"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"md5hash60 expects 1 argument, got ${children.length}")
        Md5Hash60(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"winnow_fps expects 1 argument, got ${children.length}")
        WinnowFps(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("winnow_md5_fps"),
      new ExpressionInfo(classOf[WinnowMd5Fps].getName, "winnow_md5_fps"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"winnow_md5_fps expects 1 argument, got ${children.length}")
        WinnowMd5Fps(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[Simhash32].getName, "simhash32"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"simhash32 expects 1 argument, got ${children.length}")
        Simhash32(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("bootstrap_w60"),
      new ExpressionInfo(classOf[BootstrapW60].getName, "bootstrap_w60"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"bootstrap_w60 expects 1 argument, got ${children.length}")
        BootstrapW60(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"cdc_chunks expects 1 argument, got ${children.length}")
        CdcChunks(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("block_means64"),
      new ExpressionInfo(classOf[BlockMeans64].getName, "block_means64"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"block_means64 expects 3 arguments, got ${children.length}")
        BlockMeans64(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("hilbertkey"),
      new ExpressionInfo(classOf[HilbertKey].getName, "hilbertkey"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"hilbertkey expects 3 arguments, got ${children.length}")
        HilbertKey(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("ascii_codes"),
      new ExpressionInfo(classOf[AsciiCodes].getName, "ascii_codes"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"ascii_codes expects 1 argument, got ${children.length}")
        AsciiCodes(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("byte_vals"),
      new ExpressionInfo(classOf[ByteVals].getName, "byte_vals"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"byte_vals expects 1 argument, got ${children.length}")
        ByteVals(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("dct_phash"),
      new ExpressionInfo(classOf[DctPhash].getName, "dct_phash"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"dct_phash expects 1 argument, got ${children.length}")
        DctPhash(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("lz_stream_decode"),
      new ExpressionInfo(classOf[LzStreamDecode].getName, "lz_stream_decode"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"lz_stream_decode expects 1 argument, got ${children.length}")
        LzStreamDecode(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("rle_stream_decode"),
      new ExpressionInfo(classOf[RleStreamDecode].getName, "rle_stream_decode"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"rle_stream_decode expects 1 argument, got ${children.length}")
        RleStreamDecode(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("huff_stream_decode"),
      new ExpressionInfo(classOf[HuffStreamDecode].getName, "huff_stream_decode"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"huff_stream_decode expects 1 argument, got ${children.length}")
        HuffStreamDecode(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("rle_payload"),
      new ExpressionInfo(classOf[RlePayload].getName, "rle_payload"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"rle_payload expects 2 arguments, got ${children.length}")
        RlePayload(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("huff_payload"),
      new ExpressionInfo(classOf[HuffPayload].getName, "huff_payload"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"huff_payload expects 2 arguments, got ${children.length}")
        HuffPayload(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("lz_payload"),
      new ExpressionInfo(classOf[LzPayload].getName, "lz_payload"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"lz_payload expects 2 arguments, got ${children.length}")
        LzPayload(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("cascade_sigs"),
      new ExpressionInfo(classOf[CascadeSigs].getName, "cascade_sigs"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"cascade_sigs expects 1 argument, got ${children.length}")
        CascadeSigs(children.head)
      }))
  }
}
