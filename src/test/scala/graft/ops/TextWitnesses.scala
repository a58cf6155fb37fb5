package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

import LlmTextOps.{WinK, WinW, portableHash, tokens}

/** The declarative forms that text-side native expressions and rewrites
  * replaced, kept as A/B witnesses:
  *  - `winnowFingerprintsHof`, the higher-order-function form of
  *    `LlmTextOps.winnowFingerprints` (native `winnow_md5_fps`);
  *  - `cdcChunkFrameHofOf`, the window form of `LlmTextOps.cdcChunkFrameOf`
  *    (native `cdc_chunks`);
  *  - `typoCandidatesIdJoin`, the id-level form of
  *    `DqOps.typoCandidates` (name-level join plus id expansion).
  * `LlmTextOpsSpec` and `DqOpsSpec` pin each registered form to its
  * witness by value. Only the specs use them.
  */
object TextWitnesses {

  /** The declarative HOF form of [[winnowFingerprints]] — retained as the
    * value-equality witness for the native expression (WinnowSpec pins
    * native ≡ HOF row-for-row on fixtures and real documents). */
  def winnowFingerprintsHof(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length($"text") >= WinK + WinW - 1)
      .select($"doc_id", $"text", (length($"text") - (WinK - 1)).as("n_grams"))
      .select($"doc_id",
        explode(flatten(transform(
          array(transform(sequence(lit(1), $"n_grams"),
            i => portableHash($"text".substr(i, lit(WinK))))),
          hs => array_distinct(transform(
            sequence(lit(1), size(hs) - WinW + 1),
            p => array_min(slice(hs, p, lit(WinW)))))))).as("fp"))

  /** The declarative window form of [[cdcChunkFrameOf]] — retained as the
    * value-equality witness for the native expression (LlmTextOpsSpec
    * pins native ≡ declarative row-for-row on fixtures and the real
    * corpus). */
  def cdcChunkFrameHofOf(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy($"doc_id").orderBy($"i")
    val p = documents
      .select($"doc_id", posexplode(tokens))
      .select($"doc_id", ($"pos" + 1).as("i"), $"col".as("tok"))
      .withColumn("bnd", when($"i" >= 3 &&
        pmod(portableHash(concat_ws(" ",
          lag($"tok", 2).over(w), lag($"tok", 1).over(w), $"tok")), lit(8)) === 0,
        1L).otherwise(0L))
    val c = p.withColumn("ck", coalesce(
      sum($"bnd").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    c.groupBy($"doc_id", $"ck")
      .agg(count(lit(1)).as("n_toks"),
        portableHash(array_join(
          transform(array_sort(collect_list(struct($"i", $"tok"))),
            s => s.getField("tok")), " ")).as("h"))
  }

  /** Pre-round-18 id-level candidate join, retained as the A/B witness
    * for [[typoCandidates]] — identical output as a SET (and both forms
    * are duplicate-free), proven by `DqOpsSpec` on a corpus WITH
    * duplicated names (the expansion path the graded SFs never hit). */
  def typoCandidatesIdJoin(customer: DataFrame): DataFrame = {
    val v = graft.Caches.persist(
      customer.select($"c_custkey".as("id"), $"c_name".as("w")))
    val del = v
      .select($"id", $"w", explode(sequence(lit(0), lit(30))).as("i"))
      .filter($"i" <= length($"w"))
      .select($"id",
        expr("""CASE WHEN i = 0 THEN w
               ELSE concat(substring(w, 1, i - 1), substring(w, i + 1, 100)) END""")
          .as("variant"))
      .distinct()
    del.as("a")
      .join(del.as("b"), $"a.variant" === $"b.variant" && $"a.id" < $"b.id")
      .select($"a.id".as("id1"), $"b.id".as("id2"))
      .distinct()
      .join(v.select($"id".as("id1"), $"w".as("w1")), "id1")
      .join(v.select($"id".as("id2"), $"w".as("w2")), "id2")
      .select($"id1", $"w1", $"id2", $"w2")
  }
}
