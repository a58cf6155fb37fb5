package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Whole-registry physical-plan invariants: every registered query is
  * planned (analysis + optimization + physical strategy, no execution) and
  * checked for the scale-killers the engine promises to avoid. Catches
  * planning regressions across the entire surface in one cheap sweep.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** One lane's plans: the physical plan's text and the number of
    * unpartitioned windows in its optimized plan. */
  private case class Planned(physical: String, globalWindows: Int)

  /** Every registered lane, built and planned ONCE. A lane whose build or
    * planning throws keeps its error here, so it fails only "every
    * registered query resolves and plans without error" (by name), and
    * the other registry sweeps run over the lanes that did plan. */
  private lazy val sweep: Map[String, Try[Planned]] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> Try {
        val qe = fn(spark, sf).queryExecution
        Planned(qe.executedPlan.toString, qe.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }.size)
      }
    }

  /** Physical plan text of every lane that planned. */
  private lazy val plans: Map[String, String] =
    sweep.collect { case (n, Success(p)) => n -> p.physical }

  /** A named lane's physical plan; fails naming the lane if it did not plan. */
  private def plan(name: String): String = sweep(name) match {
    case Success(p) => p.physical
    case Failure(e) => fail(s"$name did not plan: $e")
  }

  test("round-12 map-only generators shuffle nothing but their output sort") {
    // llm_span_corruption is pure per-row array algebra: the ONLY exchange
    // in its physical plan must be the final ORDER BY's range partitioning
    // — any extra shuffle means the generator stopped being map-only
    val span = plan("llm_span_corruption")
    val exchanges = "Exchange ".r.findAllIn(span).size
    assert(exchanges <= 1, s"llm_span_corruption plans $exchanges exchanges")
    assert(!span.contains("SinglePartition"),
      "llm_span_corruption degraded to a single partition")
    // geo_tile_heatmap: map-side tile derivation, one bounded (zoom, tile)
    // aggregate, one output sort — partial aggregation must survive so the
    // shuffle carries tile counts, not points
    val tile = plan("geo_tile_heatmap")
    assert(!tile.contains("SinglePartition"),
      "geo_tile_heatmap degraded to a single partition")
    assert(tile.contains("partial_count"),
      "geo_tile_heatmap lost its map-side partial aggregation")
  }

  test("no registered query plans a cartesian product") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("top-k queries plan as TakeOrderedAndProject, not global sorts") {
    val topK = Seq("redshift_q1", "a7_top5_customers", "a7_top5_nested",
      "a5_top10_leaderboard", "sql_top_orders", "llm_bm25_rank",
      "graph_pagerank", "llm_weighted_sample")
    topK.foreach { n =>
      assert(plan(n).contains("TakeOrderedAndProject"),
        s"$n lost its top-k plan")
    }
  }

  test("round-10 lanes broadcast their learned/small state, never the corpus") {
    // codebooks (PQ), boosts (mix resample), thresholds (curriculum),
    // lookup tables (ADC), band rows of the delta (incremental dedup),
    // query probes (crossmodal fetch) — each is a tiny learned table that
    // must plan as a broadcast against the corpus-sized side
    Seq("llm_pq_encode", "llm_pq_adc", "llm_pq_ivf_adc", "llm_pq_recall",
      "llm_mix_resample", "llm_curriculum", "llm_incremental_dedup",
      "llm_ann_ndcg", "mm_crossmodal_fetch", "stream_psi").foreach { n =>
      assert(plan(n).contains("Broadcast"), s"$n lost its broadcast")
    }
    // the per-doc span merge must stay partitioned by doc_id — a global
    // window here would serialize the whole gram stream
    assert(!plan("llm_dup_spans").contains("SinglePartition"),
      "llm_dup_spans degraded to a single-partition window")
  }

  test("round-11 lanes broadcast their dictionary/frontier state, never the corpus") {
    // keyword dictionary, unigram piece-cost map — each a vocab-sized
    // table that must plan as a broadcast (llm_ann_graph's broadcasts live
    // inside its checkpoint-truncated walk loop, invisible to this sweep)
    Seq("llm_keyword_tag", "llm_unigram_segment").foreach { n =>
      assert(plan(n).contains("Broadcast"), s"$n lost its broadcast")
    }
    // the ANN navigation-graph build must pair candidates via the bucket
    // EQUI-join — a cartesian/BNL here is the n² the LSH buckets exist
    // to avoid
    val nav = graft.ops.EmbeddingOps.navGraphOf(
      graft.io.Tables.embeddings(spark, sf)
        .select(col("vec_id"),
          org.apache.spark.sql.functions.transform(col("embedding"),
            x => x.cast("double")).as("v")))
      .queryExecution.executedPlan.toString
    assert(!nav.contains("CartesianProduct"),
      s"ann graph build lost its bucket equi-join:\n$nav")
    // round 15: the build derives its plane count from the corpus, attached
    // as a crossJoin(broadcast(1-row)) — the registry's accepted broadcast-
    // scalar shape. The __nb attach appears EXACTLY TWICE in this plan:
    // navGraphBucketed references the bucketed node frame on both the home
    // and the probe side, and this direct (unpersisted, fixture-seam) call
    // duplicates that subtree rather than reusing the exchange. Pinned to
    // == 2 (round-15 ADVICE): at <= 2, a second unrelated nested-loop
    // creeping into the build would pass silently; the CANDIDATE pairing
    // itself must never be a nested-loop.
    val bnl = "BroadcastNestedLoop".r.findAllIn(nav).size
    assert(bnl == 2 && nav.contains("__nb"),
      s"ann graph build may BNL only the 1-row derived-nb scalar " +
        s"(expected exactly 2 = home+probe side attach, got $bnl):\n$nav")
    // any equi-join strategy is fine (tiny SFs may broadcast one side);
    // the key is that the pairing keys on bucket at all
    assert(nav.contains("Join") && nav.contains("bucket"),
      "ann graph candidates must pair via the bucket key")
    // batching windows are keyed on (bucket, shard): a single-partition
    // window would serialize the corpus behind one task
    assert(!plan("llm_length_buckets").contains("SinglePartition"),
      "llm_length_buckets degraded to a single-partition window")
  }

  test("dimension joins broadcast the small side") {
    Seq("redshift_q1", "a5_search_tag_range", "llm_cosine_topk",
      "a4_zscore_outliers", "llm_decontam", "llm_contam_frac",
      "llm_tfidf_rank", "llm_bm25_rank", "feat_quantile_bucket",
      "stats_mad_outliers", "a4_rolling_distinct", "tpch_q5",
      "llm_kmeans_iter", "llm_bpe_encode").foreach { n =>
      assert(plan(n).contains("Broadcast"), s"$n lost its broadcast")
    }
    // Q5's six-table tree must reduce to the two keyed big-side shuffles
    // (lineitem ⋈ orders, then custkey) — supplier/nation/region all fold
    // in as broadcast hash joins, never extra exchanges.
    val q5 = plan("tpch_q5")
    val bhj = "BroadcastHashJoin".r.findAllIn(q5).size
    assert(bhj >= 3, s"tpch_q5 must broadcast supplier+nation+region, got $bhj")
  }

  test("point lookups push their key predicate into the parquet scan") {
    Seq("a5_point_lookup" -> "EqualTo(c_custkey,42)",
      "a5_proj_lookup" -> "EqualTo(c_custkey,42)").foreach { case (n, f) =>
      assert(plan(n).contains(f), s"$n does not push '$f'")
    }
  }

  test("column pruning reaches the scan: profiler reads one column per pass") {
    // profile_orders' whole design premise is N pruned single-column scans
    // (vs one N-way EXPAND); if pruning broke, every pass would read the
    // full 6-column schema and the design would silently be the worst of
    // both. ReadSchema in the scan node is the proof.
    val prof = plan("profile_orders")
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(prof).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty, s"no scans found in:\n$prof")
    assert(readSchemas.forall(s => s.count(_ == ':') == 1),
      s"a profiler pass reads more than one column: $readSchemas")
    // and the text-heavy cascade must not drag unused document columns
    // (lang, source, n_chars) through its scan
    val cascade = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan("llm_filter_cascade")).map(_.group(1)).toSeq
    assert(cascade.forall(s => !s.contains("lang") && !s.contains("source")),
      s"cascade reads unused columns: $cascade")
  }

  test("every registered query resolves and plans without error") {
    val failed = sweep.toSeq.sortBy(_._1).collect {
      case (n, Failure(e)) => s"$n: ${e.toString.linesIterator.next()}"
    }
    assert(failed.isEmpty,
      s"${failed.size} lanes did not plan:\n${failed.mkString("\n")}")
    assert(plans.size == SparkEntry.queries.size)
    assert(plans.values.forall(_.nonEmpty))
  }

  test("A4 keyed reads over the partitionBy(event_type, day) layout prune at the directory level") {
    import ops.TimeSeriesOps
    val out = java.nio.file.Files.createTempDirectory("graft_a4_layout").toString
    TimeSeriesOps.writeLayout(spark, sf, out)
    val layout = spark.read.parquet(out)
    Seq(
      "a4_point_read" -> TimeSeriesOps.pointReadPartitioned(layout),
      "a4_day_slice" -> TimeSeriesOps.daySlicePartitioned(layout),
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      // the scan's PartitionFilters clause must carry BOTH layout keys —
      // that is the directory-level rowkey-range read the layout exists for
      val pf = plan.linesIterator
        .find(_.contains("PartitionFilters: ["))
        .map(l => l.substring(l.indexOf("PartitionFilters: [")))
        .getOrElse("")
      assert(pf.contains("event_type") && pf.contains("day"),
        s"$name does not prune on both partition keys:\n$pf")
      // and the pruned read computes exactly what the flat-layout query does
      val flat = SparkEntry.queries(name)(spark, sf)
      assert(df.exceptAll(flat).isEmpty && flat.exceptAll(df).isEmpty,
        s"$name over the partitioned layout diverges from the flat layout")
    }
  }

  test("window-family queries never degrade to a single-partition window") {
    // every analytic window in these plans must stay partitioned on its
    // high-cardinality key; an unpartitioned OVER () serializes the whole
    // input through one task (the scale bug a1_idgen is allowed to keep —
    // its global window ranks a 20-row top-k, after the limit).
    Seq("a4_lag_lead", "a4_moving_avg", "a4_sessionize", "a4_gap_fill",
      "a2_ntile_quartiles", "a2_percent_rank",
      "llm_sample_stratified", "a4_range_frame", "a4_positional_values",
      "typed_topk_group").foreach { n =>
      // (llm_tfidf_rank is excluded: its top-k window IS partitioned by
      // qid, but the corpus-size scalar subquery plans the same 1-row
      // SinglePartition aggregate llm_idf is allowed. llm_pack_sequences
      // moved to the same class in round 14: its corpus-derived bucket
      // count is a 1-row global count(*) broadcast — the window itself
      // stays partitioned on the derived bucket, which the registry-wide
      // logical audit below still proves.)
      assert(!plan(n).contains("SinglePartition"),
        s"$n plans a single-partition exchange")
    }
    // llm_pack_sequences: the ONLY SinglePartition exchange allowed is the
    // 1-row bucket-count aggregate; its prefix-sum window must still be
    // hash-partitioned on the derived bucket key
    val packPlan = plan("llm_pack_sequences")
    assert(packPlan.contains("windowspecdefinition(bucket"),
      "llm_pack_sequences window lost its bucket partitioning")
    assert(packPlan.linesIterator.count(_.contains("SinglePartition")) <= 1,
      "llm_pack_sequences plans more than the allowed 1-row count exchange")
  }

  test("registry-wide: unpartitioned windows only on documented bounded frames") {
    // A logical Window with an EMPTY partitionSpec forces AllTuples
    // distribution — Spark moves the whole frame to ONE task. After the
    // round-12 ParallelRank rewrites (a4_*_prune, llm_curriculum,
    // olap_rfm/abc_pareto, llm_token_budget) the only global windows left
    // in the registry must be over frames bounded by something other than
    // data volume; each allowlisted name documents its bound. Any new
    // query that plans a global window over an unbounded frame fails here.
    val allow = Map(
      // frame = 20 rows, after a LIMIT (top-k id-gen readout)
      "a1_idgen" -> "post-LIMIT 20-row frame",
      // frame = 10 rows, after a TakeOrdered LIMIT (Redis ZREVRANGE twin)
      "ref_scores_top10" -> "post-LIMIT 10-row frame",
      // frame = one row per DISTINCT order count (the skyline staircase
      // walks the x-domain, not the row count)
      "olap_skyline" -> "distinct-x-domain frame",
    )
    val offenders = sweep.toSeq.sortBy(_._1).collect {
      case (name, Success(p)) if p.globalWindows > 0 && !allow.contains(name) =>
        s"$name(${p.globalWindows})"
    }
    assert(offenders.isEmpty,
      s"unallowlisted global windows in: ${offenders.mkString(", ")}")
  }

  test("AQE splits a skewed sort-merge join at runtime (no manual salting needed)") {
    // The runtime complement to SkewOps.saltedJoin: one hot key (90% of the
    // probe side) lands in one shuffle partition; with skew thresholds
    // scaled to the fixture, AQE's OptimizeSkewedJoin must split it into
    // sub-partitions — visible as skew=true on the join in the FINAL plan
    // (readable only off the same QueryExecution after its action runs).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ).map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      val hot = spark.range(0, 300000)
        .selectExpr("CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v")
      val dim = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS w")
      val joined = hot.join(dim, "k")
      joined.collect() // run THIS QueryExecution so AQE re-plans with stats
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in:\n$plan")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB the cheapest join optimization after broadcast is Spark's
    // runtime bloom filter: the selective (build) side's keys are sketched
    // into a bloom filter that is pushed into the probe side's scan-filter,
    // dropping most probe rows BEFORE the shuffle. Verify the optimizer
    // injects it for the canonical shape (big fact ⋈ selectively-filtered
    // dim, too big to broadcast) once the size thresholds match the fixture
    // scale — on a real cluster the defaults (10 GB probe side) hit the
    // same path without tuning.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
    ).map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val li = io.Tables.lineitem(spark, sf)
      val sel = io.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      val j = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).count()
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected in:\n$optimized")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("a1_recommend_m1/m2 reuse their shared listens subtree (AQE final plan)") {
    // both recommenders derive candidate and ownership sides from ONE
    // listens table (orders ⋈ lineitem); at scale that scan+join must be
    // planned once and reused, not recomputed per branch — the same
    // guarantee a1_recommend already has, extended to the reference-exact
    // M1/M2 forms (round-5 verdict follow-up: m1 is the most expensive
    // registered query, so a silent reuse regression is a real cost).
    Seq("a1_recommend_m1", "a1_recommend_m2").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("ReusedExchange"),
        s"$n no longer reuses its listens exchange:\n$plan")
    }
  }

  test("a1_recommend's shared basket subtree plans a ReusedExchange (AQE final plan)") {
    // the market-basket query builds the (custkey, partkey) basket table
    // twice — recommendation expansion and ownership anti-join — from one
    // canonical subtree; exchange reuse is what keeps that single-scan at
    // scale. AQE only materializes reuse in the FINAL plan of the executed
    // QueryExecution, so run the action on this df object, then inspect it.
    val df = SparkEntry.queries("a1_recommend")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    assert(plan.contains("ReusedExchange"),
      s"a1_recommend no longer reuses its basket exchange:\n$plan")
  }

  test("every query is oracle-backed except the documented rows-only set") {
    // the correctness gate only checks what has an oracle: a lane landing
    // WITHOUT one silently downgrades itself to a rows-only check, so the
    // exclusion set is pinned by name — growing it is a deliberate,
    // reviewed act, never an omission. The four ref_* goldens are
    // value-checked locally via tools/selfcheck.py REF_ORACLES (the
    // driver's gate sees rows-only); the two approximate sketches carry
    // Spark-internal binary state DuckDB cannot replay (bracketed by
    // SketchOpsSpec against exact twins); a2_limit_peek is an unordered
    // LIMIT by design.
    val noOracle = SparkEntry.defs.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(noOracle == Set(
      "a2_limit_peek",
      "ref_scores_top10", "ref_tbl_top5_customers", "ref_users_search",
      "ref_weather_monthly_max",
      "sketch_approx_distinct", "sketch_approx_percentiles"),
      s"undocumented oracle-less queries: ${noOracle.mkString(", ")}")
  }
}
