package graft

import org.scalatest.funsuite.AnyFunSuite

/** Native-function registration: every function `GraftExtensions` installs
  * resolves by name from SQL text to its expression class, and a call with
  * the wrong number of arguments fails with the registration's own arity
  * message. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val expected: Seq[(String, String, Int)] = Seq(
    ("cosine_sim", "CosineSimilarity", 2),
    ("md5hash60", "Md5Hash60", 1),
    ("winnow_fps", "WinnowFps", 1),
    ("winnow_md5_fps", "WinnowMd5Fps", 1),
    ("simhash32", "Simhash32", 1),
    ("bootstrap_w60", "BootstrapW60", 1),
    ("cdc_chunks", "CdcChunks", 1),
    ("block_means64", "BlockMeans64", 3),
    ("hilbertkey", "HilbertKey", 3),
    ("ascii_codes", "AsciiCodes", 1),
    ("byte_vals", "ByteVals", 1),
    ("dct_phash", "DctPhash", 1),
    ("lz_stream_decode", "LzStreamDecode", 1),
    ("rle_stream_decode", "RleStreamDecode", 1),
    ("huff_stream_decode", "HuffStreamDecode", 1),
    ("rle_payload", "RlePayload", 2),
    ("huff_payload", "HuffPayload", 2),
    ("lz_payload", "LzPayload", 2),
    ("cascade_sigs", "CascadeSigs", 1))

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("all 19 native functions resolve from spark.sql to their classes") {
    assert(expected.map(_._1).distinct.size == 19)
    expected.foreach { case (name, cls, _) =>
      val info = spark.sql(s"DESCRIBE FUNCTION $name").collect()
        .map(_.getString(0)).mkString("\n")
      assert(info.contains(s"graft.functions.$cls"),
        s"$name does not resolve to graft.functions.$cls:\n$info")
    }
  }

  test("a wrong-arity call fails with the registered arity message") {
    expected.foreach { case (name, _, arity) =>
      val args = Seq.fill(arity + 1)("1").mkString(", ")
      val err = intercept[Exception](spark.sql(s"SELECT $name($args)").collect())
      val want = s"$name expects $arity " +
        s"argument${if (arity == 1) "" else "s"}, got ${arity + 1}"
      assert(causes(err).exists(e => Option(e.getMessage).exists(_.contains(want))),
        s"$name($args) failed without '$want': $err")
    }
  }
}
