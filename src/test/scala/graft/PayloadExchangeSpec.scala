package graft

import java.nio.file.{Files, Path => JPath}
import java.util.Comparator

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables

/** Plan pins for the lanes built on `MultimodalOps`' synthesized payloads
  * (PGM, WAV, RLE, Huffman, LZ), one per input shape of `payloadDocs`:
  *  - a corpus of several files keeps its one shuffle, the range exchange
  *    of the narrow `(doc_id, text)` input under the payload build, so the
  *    range partitioner samples the scan, the payload is built and decoded
  *    once, and the final `ORDER BY doc_id` sorts locally;
  *  - a one-split corpus (the sf0.001 file) plans no shuffle at all, and
  *    returns the same rows as the multi-file corpus.
  * Plans only these seven lanes, not the whole registry.
  */
class PayloadExchangeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper
    with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val root: JPath = Files.createTempDirectory("graft-payload-spec")

  /** The sf0.001 documents rewritten as 2 parquet files: the same rows, no
    * longer one split. */
  private lazy val wide: String = {
    Tables.documents(spark, sf).repartitionByRange(2, col("doc_id"))
      .write.parquet(s"$root/documents.parquet")
    root.toString
  }

  override def afterAll(): Unit = {
    Files.walk(root).sorted(Comparator.reverseOrder[JPath]())
      .forEach(p => Files.delete(p))
    super.afterAll()
  }

  private val lanes = Seq("mm_rle_decode", "mm_huffman_decode", "mm_lz_decode",
    "mm_pgm_decode", "mm_phash_pgm", "mm_wav_energy", "mm_wav_zcr")

  private val builder = Map("mm_rle_decode" -> "rle_payload",
    "mm_huffman_decode" -> "huff_payload", "mm_lz_decode" -> "lz_payload")

  test("payload lanes shuffle the document text once, by doc_id range, below the payload build") {
    assert(Tables.documents(spark, wide).inputFiles.length == 2)
    assert(!Tables.oneSplit(Tables.documents(spark, wide)))
    lanes.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, wide).queryExecution.executedPlan
      val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
      assert(shuffles.size == 1,
        s"$n plans ${shuffles.size} shuffle exchanges, want 1:\n$plan")
      val ex = shuffles.head
      val keys = ex.outputPartitioning match {
        case RangePartitioning(ordering, _) =>
          ordering.flatMap(_.child.references.map(_.name))
        case other => fail(s"$n shuffles by $other, not a doc_id range:\n$plan")
      }
      assert(keys == Seq("doc_id"),
        s"$n range-partitions on $keys, not doc_id alone")
      // below the payload projection: the exchange carries the narrow
      // document input, and neither the payload build (the lambda form's
      // ascii_codes, or a native *_payload builder) nor the decode runs
      // under it (so the range sampler never runs them)
      assert(ex.output.map(_.name).toSet == Set("doc_id", "text"),
        s"$n shuffles ${ex.output.map(_.name)}, not (doc_id, text)")
      val below = ex.child.treeString
      val builds = Seq("ascii_codes", "rle_payload", "huff_payload", "lz_payload")
      assert(!builds.exists(below.contains) && !below.contains("_stream_decode"),
        s"$n builds or decodes its payload under the exchange:\n$below")
      // the native builders do run in these lanes, above the exchange
      builder.get(n).foreach(b => assert(plan.toString.contains(b),
        s"$n does not build its payload with $b:\n$plan"))
      // the only other exchange is the 1-row token-divisor broadcast of
      // the RLE/Huffman/LZ builders
      val broadcasts = collect(plan) { case b: BroadcastExchangeLike => b }
      assert(broadcasts.forall(_.output.map(_.name) == Seq("q")),
        s"$n broadcasts more than the token divisor:\n$plan")
      assert(!plan.toString.contains("SinglePartition"),
        s"$n plans a single-partition exchange:\n$plan")
    }
  }

  test("payload lanes over a one-split corpus plan no shuffle and return the multi-file rows") {
    assert(Tables.oneSplit(Tables.documents(spark, sf)))
    lanes.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf)
      val plan = df.queryExecution.executedPlan
      val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"$n plans ${shuffles.size} shuffle exchanges, want 0:\n$plan")
      // the RLE/Huffman/LZ token-divisor broadcast is the only exchange
      val exchanges = collect(plan) { case e: Exchange => e }
      if (builder.contains(n)) {
        assert(exchanges.size == 1 && (exchanges.head match {
          case b: BroadcastExchangeLike => b.output.map(_.name) == Seq("q")
          case _ => false
        }), s"$n plans more than the token-divisor broadcast:\n$plan")
      } else assert(exchanges.isEmpty, s"$n plans an exchange:\n$plan")
      builder.get(n).foreach(b => assert(plan.toString.contains(b),
        s"$n does not build its payload with $b:\n$plan"))
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, s"$n returned no rows")
      assert(rows == SparkEntry.queries(n)(spark, wide).collect().toSeq,
        s"$n returns different rows over the one-split and multi-file corpus")
    }
  }
}
