package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DecodeWitnesses, MultimodalOps}

/** A/B pin of the native `rle_payload` / `huff_payload` / `lz_payload`
  * builders against the lambda builders they replaced
  * (`DecodeWitnesses.*PayloadHofOf`): the same `(docs, div)` input must give
  * the same payload bytes per document, and the lane's decoder must read
  * the same struct out of both. Inputs are the corpus and fixtures for the
  * edges of the construction: one-character texts, texts shorter than the
  * token count (so `j % n` wraps), multi-byte and supplementary code points,
  * and divisors q ∈ {1, 2, 4, 4096}, which push the token counts onto their
  * `greatest(...)` floors through the double floor division.
  */
class MediaPayloadsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private type Build = (DataFrame, DataFrame) => DataFrame

  private val builders: Seq[(String, Build, Build, DataFrame => DataFrame)] = Seq(
    ("rle", MultimodalOps.rlePayloadOf, DecodeWitnesses.rlePayloadHofOf,
      MultimodalOps.rleDecodeOf),
    ("huff", MultimodalOps.huffPayloadOf, DecodeWitnesses.huffPayloadHofOf,
      MultimodalOps.huffDecodeOf),
    ("lz", MultimodalOps.lzPayloadOf, DecodeWitnesses.lzPayloadHofOf,
      MultimodalOps.lzDecodeOf))

  private def divOf(q: Long): DataFrame = spark.range(1).select(lit(q).as("q"))

  /** Native ≡ witness on `docs` under the divisor frame `div`: payload
    * bytes per document, then the decoded struct per document. */
  private def assertSame(docs: DataFrame, div: DataFrame, label: String): Unit =
    builders.foreach { case (name, nat, hof, decodeOf) =>
      def bytes(df: DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      val n = bytes(nat(docs, div))
      val h = bytes(hof(docs, div))
      assert(n.nonEmpty, s"$name/$label: no payloads")
      assert(n.keySet == h.keySet, s"$name/$label: documents differ")
      n.keys.foreach(id => assert(n(id) == h(id),
        s"$name/$label doc $id: native " +
          s"${new String(n(id).toArray, "UTF-8")} != witness " +
          s"${new String(h(id).toArray, "UTF-8")}"))
      def decoded(df: DataFrame) = decodeOf(df).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val dn = decoded(nat(docs, div))
      val dh = decoded(hof(docs, div))
      assert(dn == dh, s"$name/$label: decoded readouts differ")
    }

  test("native payload builders equal their lambda witnesses on the corpus") {
    val docs = io.Tables.documents(spark, sf)
    assertSame(docs, MultimodalOps.rleTokDivOf(docs), "corpus divisor")
    Seq(2L, 4L, 4096L).foreach(q => assertSame(docs, divOf(q), s"q=$q"))
  }

  test("native payload builders equal their lambda witnesses on edge-case texts") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val docs = Seq(
      1L -> "a",
      2L -> "~",
      3L -> "é",
      4L -> "あ",
      5L -> "😀", // one supplementary code point (two UTF-16 units)
      6L -> "ab",
      7L -> "xyz",
      8L -> "café",
      9L -> "日本語テキスト",
      10L -> "a😀b🎉c",
      11L -> " ",
      12L -> "\n\t",
      13L -> "", // filtered out on both sides
      14L -> "Customer#000000001 quickly",
      15L -> ("long " * 40))
      .toDF("doc_id", "text")
    Seq(1L, 2L, 4L, 4096L).foreach(q => assertSame(docs, divOf(q), s"q=$q"))
  }

  test("payload functions resolve from SQL; null, empty text and q = 0 give null") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    val factory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    // rows (t, q): ('ab', 1), (null, 1), ('ab', null), ('', 1), ('ab', 0),
    // picked by id so no optimizer rule folds the calls into literals
    def pick(vs: Seq[Any], tpe: String) =
      element_at(array(vs.map(v => lit(v).cast(tpe)): _*), (col("id") + 1).cast("int"))
    def run(): Seq[Seq[Any]] = spark.range(5)
      .select(pick(Seq("ab", null, "ab", "", "ab"), "string").as("t"),
        pick(Seq(1L, 1L, null, 1L, 0L), "bigint").as("q"))
      .selectExpr("rle_payload(t, q)", "huff_payload(t, q)", "lz_payload(t, q)")
      .collect().map(_.toSeq).toSeq
    val codegen = run()
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(run() == codegen, "interpreted eval disagrees with codegen")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      factory.foreach(spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
    assert(codegen.head.forall(_ != null), s"payloads of 'ab': ${codegen.head}")
    assert(codegen.head.map(_.toString.take(4)) == Seq("RL1\n", "HF1\n", "LZ1\n"))
    codegen.tail.foreach(r => assert(r.forall(_ == null), s"want nulls: $r"))
  }
}
