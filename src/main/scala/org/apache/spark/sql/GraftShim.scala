package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Narrow shim into Spark's `private[sql]` surface (the classpath-package
  * trick, no reflection): build a DataFrame over an already-computed
  * `InternalRow` RDD with a FRESH `LogicalRDD` — crucially one WITHOUT the
  * origin statistics `Dataset.localCheckpoint` would preserve.
  *
  * Why this exists (round-10 finding): `localCheckpoint` truncates the
  * LINEAGE but keeps the truncated plan's `Statistics` as the new leaf's
  * stats. In an iterative algorithm each round's plan references the
  * previous checkpoint k times, so `sizeInBytes` COMPOUNDS — digits grow
  * ~k× per round (measured: 10 rounds of a 3-reference loop → a 182,363-
  * digit BigInt), and Catalyst's size-only stats visitor then multiplies
  * these monsters on every `canBroadcastBySize` probe. In `geo_msf`
  * (Borůvka outer loop × CC inner loop) planning alone exceeded 20
  * minutes at sf0.1. With the leaf rebuilt stat-less, the planner sees
  * `defaultSizeInBytes` — broadcast decisions for checkpointed state fall
  * to explicit `broadcast()` hints (house style) and AQE's runtime sizes,
  * which is exactly right for loop state of unknown size.
  */
object GraftShim {
  /** Wrap an already-materialized `InternalRow` RDD as a stat-less
    * DataFrame leaf (the checkpoint construction in [[graft.Caches]]). */
  def fromInternalRows(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
