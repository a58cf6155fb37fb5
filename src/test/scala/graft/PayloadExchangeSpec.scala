package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.scalatest.funsuite.AnyFunSuite

/** Plan pin for the lanes built on `MultimodalOps`' synthesized payloads
  * (PGM, WAV, RLE, Huffman, LZ): their one shuffle is the range exchange of
  * the narrow `(doc_id, text)` input under the payload build, so the range
  * partitioner samples the scan, the payload is built and decoded once, and
  * the final `ORDER BY doc_id` sorts locally. Plans only these seven lanes,
  * not the whole registry.
  */
class PayloadExchangeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val lanes = Seq("mm_rle_decode", "mm_huffman_decode", "mm_lz_decode",
    "mm_pgm_decode", "mm_phash_pgm", "mm_wav_energy", "mm_wav_zcr")

  private val builder = Map("mm_rle_decode" -> "rle_payload",
    "mm_huffman_decode" -> "huff_payload", "mm_lz_decode" -> "lz_payload")

  test("payload lanes shuffle the document text once, by doc_id range, below the payload build") {
    lanes.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan
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
}
