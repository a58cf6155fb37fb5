package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.io.Tables

/** Declarative graph analytics over the part co-occurrence graph (nodes =
  * parts, edge = two parts sharing >1 distinct order — the same support
  * threshold the reference's recommender mines, `a1_cooccur_pairs`).
  * Distributed connected components live in `LlmTextOps.clusterLsOf`;
  * this adds the other two staples — triangle enumeration and degree
  * distribution — as plain relational plans.
  *
  * Scale shape: the edge set is the OUTPUT of support-threshold mining, so
  * it is orders of magnitude smaller than the input (classic itemset
  * pruning); the triangle join is edge-keyed equi-joins on that mined set
  * with the canonical a<b<c orientation, so each triangle is emitted
  * exactly once and no join side ever re-expands the raw lineitem table.
  */
object GraphOps {

  /** Canonically-oriented (p1 < p2) support-thresholded co-occurrence
    * edges. Basket expansion (one shuffle, per-order array algebra) instead
    * of the oracle's lineitem self-join — same rows, no quadratic join.
    * Extracted for the spec and shared by both queries. */
  private[graft] def cooccurEdges(lineitem: DataFrame): DataFrame =
    lineitem.select($"l_orderkey", $"l_partkey").distinct()
      .groupBy($"l_orderkey").agg(collect_set($"l_partkey").as("items"))
      .select(explode(flatten(transform($"items", x =>
        transform(filter($"items", y => x < y),
          y => struct(x.as("p1"), y.as("p2")))))).as("e"))
      .select($"e.p1".as("p1"), $"e.p2".as("p2"))
      .groupBy($"p1", $"p2").agg(count(lit(1)).as("w"))
      .filter($"w" > 1)

  private val edgesSql =
    """bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (SELECT b1.l_partkey AS p1, b2.l_partkey AS p2
      |          FROM bi b1 JOIN bi b2 ON b1.l_orderkey = b2.l_orderkey
      |                             AND b1.l_partkey < b2.l_partkey
      |          GROUP BY 1, 2 HAVING count(*) > 1)""".stripMargin

  /** The mined co-occurrence graph, computed ONCE per (session, input
    * dir) and shared by EVERY registry graph lane via
    * [[graft.Caches.memo]] — 30 lanes each re-ran the basket explode +
    * pair count over lineitem to derive the identical (p1, p2, w) frame.
    * Edge-list-sized (support-thresholded pairs), orders of magnitude
    * below the corpus; on a cluster this is the materialized graph table
    * every analytics job reads instead of re-mining the fact table.
    * Fixture seams keep taking an explicit edge frame. */
  private def minedEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("graph_cooccur_edges", dir) {
      cooccurEdges(Tables.lineitem(spark, dir))
    }

  /** Triangle closure over a canonically-oriented (p1 < p2) edge list —
    * each triangle a<b<c emitted exactly once via two equi-joins.
    * Extracted so the fixture spec exercises the identical plan the
    * registered query ships. */
  private[graft] def trianglesOf(edges: DataFrame): DataFrame = {
    val e = edges.select($"p1", $"p2")
    e.as("e1").join(e.as("e2"), col("e1.p2") === col("e2.p1"))
      .join(e.as("e3"),
        col("e3.p1") === col("e1.p1") && col("e3.p2") === col("e2.p2"))
      .select(col("e1.p1").as("a"), col("e1.p2").as("b"), col("e2.p2").as("c"))
      .orderBy($"a", $"b", $"c")
  }

  /** Every triangle (a < b < c) in the mined co-occurrence graph — part
    * trios that pairwise co-occur, the depth-3 itemset the pairwise
    * recommender can't see. */
  val triangles: QueryDef = QueryDef(
    "graph_triangles",
    s"""WITH $edgesSql
       |SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
       |FROM pairs e1 JOIN pairs e2 ON e2.p1 = e1.p2
       |     JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
       |ORDER BY a, b, c""".stripMargin,
  ) { (spark, dir) =>
    trianglesOf(minedEdges(spark, dir))
  }

  /** Degree distribution of the mined graph — how many parts have k
    * qualifying co-occurrence partners. */
  val degreeDist: QueryDef = QueryDef(
    "graph_degree_dist",
    s"""WITH $edgesSql,
       |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS degree
       |        FROM (SELECT p1 AS p FROM pairs UNION ALL SELECT p2 AS p FROM pairs)
       |        GROUP BY p)
       |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,
  ) { (spark, dir) =>
    val e = minedEdges(spark, dir)
    e.select($"p1".as("p")).union(e.select($"p2".as("p")))
      .groupBy($"p").agg(count(lit(1)).as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"degree")
  }

  /** PageRank over a directed edge list (undirected graphs pass both
    * orientations), fixed iteration count, damping 0.85 — the one power
    * iteration behind [[pageRank]] and [[personalizedPageRank]] (the
    * former `personalizedPageRankOf`). Each node carries a teleport weight
    * `tw`: 1.0 everywhere for global PageRank, or, with `seeds = Some(k)`,
    * 1.0 on the k smallest node ids and 0.0 elsewhere (Personalized
    * PageRank: ranks measure proximity TO THE SEEDS). Ranks start at `tw`
    * and each round is rank = 0.15·tw + 0.85·(inflow); for global PageRank
    * 0.15·1.0 = 0.15 and x·1.0 = x, so its arithmetic is the plain form
    * the oracle replays, bit for bit.
    *
    * The node set is src ∪ dst, so sink nodes (appearing only as dst) are
    * ranked too, and their mass — which has no out-edges to flow along — is
    * sent back along the teleport vector each round (dq·tw/Σtw: uniformly
    * for global PageRank, to the seeds for PPR, NetworkX's default)
    * instead of silently evaporating. Danglingness is detected once up
    * front, so the common no-dangling case (undirected both-orientation
    * inputs like the registered queries) pays nothing for it and keeps
    * the exact arithmetic the DuckDB oracle replays.
    *
    * Determinism: per-edge contributions are quantized to 1e-9 BIGINTs
    * BEFORE the per-node sum (the `llm_embed_centroid` architecture), so
    * every iteration is bit-reproducible at any parallelism — rerunning
    * the op yields identical ranks, which the spec asserts.
    *
    * Lineage: without dangling nodes each round references the previous
    * ranks ONCE (contributions join), so the plan grows linearly and a
    * localCheckpoint every 5th round bounds it at 1/5 the actions
    * (measured 11.4 s → ~5.7 s at sf0.1). With dangling nodes the ranks
    * are referenced twice per round (contributions + dangling-mass sum),
    * which would double the logical plan each round — so that path
    * truncates every round (the lineage rule: loop state referenced more
    * than once per round is checkpointed every round). */
  private[graft] def pageRankOf(edges: DataFrame, iters: Int,
      seeds: Option[Int] = None): DataFrame = {
    // Round-17: rank loop at the edge frame's materialized width
    // ([[loopParts]]) — same task-launch-overhead finding as [[hitsOf]];
    // the final (lazy) readout joins at the restored session width.
    withLoopWidth(edges.sparkSession, loopParts(edges)) {
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    // cache the edge table hash-partitioned on src, the key of every
    // round's contributions join: the cached partitioning is reused by all
    // `iters` joins, so only the VERTEX-sized rank table moves per round —
    // never the edges. (The deg join alone doesn't guarantee this: a
    // broadcast-planned deg leaves e in scan partitioning.)
    val e = graft.Caches.persist(
      edges.select($"src", $"dst").join(deg, "src").repartition($"src"))
    val ids = edges.select($"src".as("id"))
      .union(edges.select($"dst".as("id"))).distinct()
    // seed membership resolved once into the node frame (broadcast join
    // against the k-row seed table), so each round is still ONE join
    // against the previous ranks
    val nodes = graft.Caches.persist(seeds match {
      case None => ids.select($"id", lit(1.0).as("tw"))
      case Some(k) =>
        ids.join(broadcast(ids.orderBy($"id").limit(k)
            .select($"id", lit(1.0).as("seed_w"))), Seq("id"), "left")
          .select($"id", coalesce($"seed_w", lit(0.0)).as("tw"))
    })
    val dangling = graft.Caches.persist(
      nodes.select($"id")
        .join(deg.select($"src".as("id")), Seq("id"), "left_anti"))
    val hasDangling = !dangling.isEmpty
    val twSum = nodes.agg(sum($"tw").as("tsum"))
    var ranks = nodes.select($"id", $"tw".as("rank"))
    for (iter <- 1 to iters) {
      val contribs = e
        .join(ranks.select($"id".as("src"), $"rank"), "src")
        .select($"dst".as("id"),
          round($"rank" / $"deg" * 1e9).cast("long").as("cq"))
      val summed = contribs.groupBy($"id").agg(sum($"cq").as("sq"))
      val next =
        if (!hasDangling)
          nodes.join(summed, Seq("id"), "left")
            .select($"id",
              (lit(0.15) * $"tw" +
                lit(0.85) * (coalesce($"sq", lit(0L)) / 1e9)).as("rank"))
        else {
          // total dangling mass this round, quantized like the edge
          // contributions; sent back as dq·tw/Σtw
          val dq = dangling.join(ranks, "id")
            .agg(coalesce(sum(round($"rank" * 1e9).cast("long")), lit(0L)).as("dq"))
          nodes.join(summed, Seq("id"), "left")
            .crossJoin(broadcast(dq)).crossJoin(broadcast(twSum))
            .select($"id",
              (lit(0.15) * $"tw" + lit(0.85) *
                ((coalesce($"sq", lit(0L)).cast("double") +
                  $"dq".cast("double") * $"tw" / $"tsum") / 1e9)).as("rank"))
        }
      ranks = if (hasDangling || iter % 5 == 0 || iter == iters)
        graft.Caches.localCheckpoint(next)
      else next
    }
    ranks
    }
  }

  private val PrIters = 15

  /** The oracle replays the identical fixed-point: same quantized BIGINT
    * contribution per edge, same float expression per round, unrolled to
    * [[PrIters]] chained CTEs (DuckDB's recursive CTEs disallow the
    * per-round aggregate, and unrolling keeps each round a plain LEFT
    * JOIN + GROUP BY the optimizer can check). The registered graph is
    * undirected with both orientations present, so the dangling set is
    * empty and the Spark side's no-dangling arithmetic is the one
    * replayed here, bit for bit. Shared by the global and personalized
    * lanes: `nodes` is the CTE text defining `nodes` and `r0`, `teleport`
    * the per-round teleport term, `where` the readout filter. */
  private def prSql(iters: Int, nodes: String, teleport: String,
      where: String): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.id, $teleport + 0.85 * (CAST(coalesce(s.sq, 0) AS DOUBLE) / 1e9) AS rank
         |        FROM nodes n LEFT JOIN (
         |          SELECT e.dst AS id, sum(CAST(round(r.rank / e.deg * 1e9) AS BIGINT)) AS sq
         |          FROM ed e JOIN r${i - 1} r ON r.id = e.src GROUP BY 1) s ON n.id = s.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |und AS (SELECT p1 AS src, p2 AS dst FROM pairs
       |        UNION ALL SELECT p2 AS src, p1 AS dst FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src),
       |ed AS (SELECT u.src, u.dst, d.deg FROM und u JOIN deg d ON u.src = d.src),
       |$nodes
       |$rounds
       |SELECT id AS part, round(rank, 6) AS rank FROM r$iters
       |${where}ORDER BY rank DESC, part LIMIT 20""".stripMargin
  }

  /** Top-20 PageRank hubs of the co-occurrence graph ([[PrIters]] rounds).
    * Value-equality-checked against the DuckDB fixed-point twin — the
    * quantize-before-sum architecture is what makes an iterative float
    * algorithm hash-matchable across engines. */
  val pageRank: QueryDef = QueryDef(
    "graph_pagerank",
    prSql(PrIters,
      """nodes AS (SELECT src AS id FROM und UNION SELECT dst FROM und),
        |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM nodes),""".stripMargin,
      "0.15", ""),
  ) { (spark, dir) =>
    val und = minedEdges(spark, dir)
    val edges = und.select($"p1".as("src"), $"p2".as("dst"))
      .union(und.select($"p2".as("src"), $"p1".as("dst")))
    pageRankOf(edges, PrIters)
      .select($"id".as("part"), round($"rank", 6).as("rank"))
      .orderBy($"rank".desc, $"part")
      .limit(20)
  }

  private val PprSeeds = 3

  /** Top-20 parts by personalized PageRank from the 3 smallest part ids of
    * the co-occurrence graph — "expand this seed basket", value-checked
    * against the DuckDB fixed-point twin (seeds resolved by the same
    * smallest-3 rule). Zero-rank nodes (unreached in [[PrIters]] hops) are
    * excluded so the tail is well-ordered. */
  val personalizedPageRank: QueryDef = QueryDef(
    "graph_ppr",
    prSql(PrIters,
      s"""ids AS (SELECT src AS id FROM und UNION SELECT dst FROM und),
         |seeds AS (SELECT id FROM ids ORDER BY id LIMIT $PprSeeds),
         |nodes AS (SELECT i.id, CASE WHEN s.id IS NULL THEN 0.0 ELSE 1.0 END AS seed
         |          FROM ids i LEFT JOIN seeds s ON i.id = s.id),
         |r0 AS (SELECT id, seed AS rank FROM nodes),""".stripMargin,
      "0.15 * n.seed", "WHERE rank > 0 "),
  ) { (spark, dir) =>
    val und = minedEdges(spark, dir)
    val edges = und.select($"p1".as("src"), $"p2".as("dst"))
      .union(und.select($"p2".as("src"), $"p1".as("dst")))
    pageRankOf(edges, PrIters, Some(PprSeeds))
      .filter($"rank" > 0)
      .select($"id".as("part"), round($"rank", 6).as("rank"))
      .orderBy($"rank".desc, $"part")
      .limit(20)
  }

  /** Multi-source BFS over a directed (src, dst) edge list — the one
    * frontier kernel behind the BFS, diameter, closeness and harmonic
    * lanes. `seeds` holds (lm, id) start rows, one BFS per distinct `lm`;
    * the result is every (lm, id) reached within `maxHops` with its hop
    * distance `d` (seeds at 0).
    *
    * Round h joins the frontier to the src-partitioned cached edge list,
    * dedups per source, anti-joins that source's visited set and tags the
    * survivors with h — one edge-keyed equi-join + one anti-join per hop,
    * the frontier-expansion shape that holds on any cluster (state is
    * k·|V| visited pairs, never paths). The visited set is referenced
    * twice per round (anti-join + union), so lineage is truncated every
    * round; each frontier checkpoint also counts its rows in the same job,
    * and an empty frontier ends the loop early. Callers pass both
    * orientations for undirected graphs. */
  private[graft] def bfsOf(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
    // Round-17: frontier rounds at the edge frame's materialized width
    // ([[loopParts]] — the task-launch-overhead fix, values unchanged).
    withLoopWidth(edges.sparkSession, loopParts(edges)) {
      val e = graft.Caches.persist(
        edges.select($"src", $"dst").repartition($"src"))
      var (visited, n) = graft.Caches.localCheckpointCount(
        seeds.select($"lm", $"id", lit(0L).as("d")))
      var frontier = visited.select($"lm", $"id")
      var h = 1
      while (n > 0 && h <= maxHops) {
        val (nf, nNf) = graft.Caches.localCheckpointCount(
          e.join(frontier.select($"lm", $"id".as("src")), "src")
            .select($"lm", $"dst".as("id")).distinct()
            .join(visited.select($"lm", $"id"), Seq("lm", "id"), "left_anti")
            .select($"lm", $"id", lit(h.toLong).as("d")))
        n = nNf
        if (n > 0) visited = graft.Caches.localCheckpoint(visited.unionAll(nf))
        frontier = nf.select($"lm", $"id")
        h += 1
      }
      visited
    }

  /** BFS levels (id, level) from the minimum src id of a directed edge
    * list — [[bfsOf]] from that one deterministic seed. */
  private[graft] def bfsLevelsOf(edges: DataFrame, maxHops: Int): DataFrame =
    bfsOf(edges,
      edges.agg(min($"src").as("id")).select($"id".as("lm"), $"id"), maxHops)
      .select($"id", $"d".as("level"))

  /** 3-hop BFS neighborhood of the co-occurrence graph's minimum part id —
    * single-source shortest hop-distances, the graph staple next to
    * components ([[LlmTextOps.clusterLsOf]]), PageRank, and triangles. The
    * DuckDB twin unrolls the same frontier expansion level by level
    * (NOT-IN visited = the anti-join), so hop distances are value-checked
    * exactly. */
  val bfsLevels: QueryDef = QueryDef(
    "graph_bfs_levels",
    s"""WITH $edgesSql,
       |und AS (SELECT p1 AS src, p2 AS dst FROM pairs
       |        UNION ALL SELECT p2 AS src, p1 AS dst FROM pairs),
       |l0 AS (SELECT min(src) AS id FROM und),
       |l1 AS (SELECT DISTINCT e.dst AS id FROM und e JOIN l0 ON e.src = l0.id
       |       WHERE e.dst NOT IN (SELECT id FROM l0)),
       |v1 AS (SELECT id FROM l0 UNION SELECT id FROM l1),
       |l2 AS (SELECT DISTINCT e.dst AS id FROM und e JOIN l1 ON e.src = l1.id
       |       WHERE e.dst NOT IN (SELECT id FROM v1)),
       |v2 AS (SELECT id FROM v1 UNION SELECT id FROM l2),
       |l3 AS (SELECT DISTINCT e.dst AS id FROM und e JOIN l2 ON e.src = l2.id
       |       WHERE e.dst NOT IN (SELECT id FROM v2))
       |SELECT id AS part, CAST(0 AS BIGINT) AS level FROM l0
       |UNION ALL SELECT id, CAST(1 AS BIGINT) FROM l1
       |UNION ALL SELECT id, CAST(2 AS BIGINT) FROM l2
       |UNION ALL SELECT id, CAST(3 AS BIGINT) FROM l3
       |ORDER BY part""".stripMargin,
  ) { (spark, dir) =>
    val und = minedEdges(spark, dir)
    val edges = und.select($"p1".as("src"), $"p2".as("dst"))
      .union(und.select($"p2".as("src"), $"p1".as("dst")))
    bfsLevelsOf(edges, 3)
      .select($"id".as("part"), $"level")
      .orderBy($"part")
  }

  /** Adamic–Adar link prediction over the co-occurrence graph: for every
    * NON-adjacent pair (a, c) with shared neighbors, score
    * Σ_b 1/ln(deg(b)) over the common neighbors b — rare hubs count more
    * than ubiquitous ones. The top of the list is "parts that should
    * co-occur but don't yet", the classic recommendation-by-structure
    * readout the pairwise recommender ([[triangles]]' open wedges) can't
    * rank.
    *
    * Shape: wedge expansion (und ⋈ und on the shared hub, a < c) → anti-
    * join against the existing edge set → hub-degree join → pair-keyed
    * sum. Per-term 1/ln(deg) is quantized to 1e-6 BIGINTs BEFORE the
    * shuffled sum, so the float scores hash-match cross-engine. A shared
    * neighbor by definition has degree ≥ 2, so ln(deg) is never 0. Wedge
    * volume is Σ deg(b)² of the MINED graph — at 100 TB the standard
    * mitigation (cap or sample per-hub neighbor lists) applies before the
    * expansion, same as the pair-emission caveat on the dedup family. */
  val adamicAdar: QueryDef = QueryDef(
    "graph_adamic_adar",
    s"""WITH $edgesSql,
       |und AS (SELECT p1 AS src, p2 AS dst FROM pairs
       |        UNION ALL SELECT p2 AS src, p1 AS dst FROM pairs),
       |deg AS (SELECT src AS b, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src),
       |w AS (SELECT x.src AS b, x.dst AS a, y.dst AS c
       |      FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst),
       |nonadj AS (SELECT w.a, w.c, w.b FROM w
       |           WHERE NOT EXISTS (SELECT 1 FROM pairs p
       |                             WHERE p.p1 = w.a AND p.p2 = w.c)),
       |sc AS (SELECT a, c,
       |              CAST(sum(CAST(round(1.0 / ln(deg.deg) * 1000000) AS BIGINT)) AS BIGINT) AS sq
       |       FROM nonadj JOIN deg ON nonadj.b = deg.b GROUP BY a, c)
       |SELECT a AS part_a, c AS part_b,
       |       round(CAST(sq AS DOUBLE) / 1000000.0, 6) AS aa_score
       |FROM sc ORDER BY aa_score DESC, part_a, part_b LIMIT 20""".stripMargin,
  ) { (spark, dir) =>
    adamicAdarOf(minedEdges(spark, dir))
  }

  /** The Adamic–Adar plan over any canonical (p1 < p2) edge list —
    * extracted so the fixture spec runs the registered query's real
    * wedge/anti-join/quantized-sum pipeline. */
  private[graft] def adamicAdarOf(edges: DataFrame): DataFrame = {
    val e = graft.Caches.persist(edges.select($"p1", $"p2"))
    val und = e.select($"p1".as("src"), $"p2".as("dst"))
      .union(e.select($"p2".as("src"), $"p1".as("dst")))
    val deg = und.select($"src".as("b")).groupBy($"b")
      .agg(count(lit(1)).as("deg"))
    val w = und.as("x").join(und.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("b"), col("x.dst").as("a"), col("y.dst").as("c"))
    val nonadj = w.join(e,
      w("a") === e("p1") && w("c") === e("p2"), "left_anti")
    nonadj.join(deg, "b")
      .groupBy($"a", $"c")
      .agg(sum(round(lit(1.0) / log($"deg") * 1000000).cast("long")).as("sq"))
      .select($"a".as("part_a"), $"c".as("part_b"),
        round($"sq".cast("double") / 1000000.0, 6).as("aa_score"))
      .orderBy($"aa_score".desc, $"part_a", $"part_b")
      .limit(20)
  }

  /** Per-hub neighbor-list cap for [[adamicAdarCapped]]. Chosen below the
    * sf0.01 mined graph's max degree (13) so the correctness gate actually
    * exercises truncation (181 of 1880 nodes trim there) while typical
    * hubs stay exact. At 100 TB this constant is the knob that bounds
    * wedge volume per hub at cap² regardless of skew. */
  private[graft] val AaHubCap = 6

  /** [[adamicAdar]] with the 100 TB skew mitigation APPLIED, not just
    * documented: each hub's neighbor list is truncated to its [[AaHubCap]]
    * smallest neighbor ids (top-N by id — deterministic, no sampling seed
    * to disagree on) BEFORE the wedge expansion, so one celebrity hub in a
    * skewed graph contributes at most cap·(cap−1)/2 wedges instead of
    * deg² — the quadratic term that kills the uncapped plan. Scores still
    * weight by the TRUE hub degree (the cap limits which wedges are
    * enumerated, not the 1/ln(deg) evidence of the ones that are), and the
    * readout is honest about what it dropped: every row carries
    * `n_capped_hubs`, the number of hubs whose lists were truncated, so a
    * 0 means the scores are exact and the capped plan was free. The
    * rank-and-filter is a window partitioned by hub id (high-cardinality —
    * no SinglePartition), and the oracle replays the identical cap. */
  val adamicAdarCapped: QueryDef = QueryDef(
    "graph_adamic_adar_capped",
    s"""WITH $edgesSql,
       |und AS (SELECT p1 AS src, p2 AS dst FROM pairs
       |        UNION ALL SELECT p2 AS src, p1 AS dst FROM pairs),
       |deg AS (SELECT src AS b, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src),
       |undc AS (SELECT src, dst FROM (
       |           SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
       |           FROM und) WHERE rk <= $AaHubCap),
       |ch AS (SELECT CAST(count(*) AS BIGINT) AS n_capped_hubs FROM deg WHERE deg > $AaHubCap),
       |w AS (SELECT x.src AS b, x.dst AS a, y.dst AS c
       |      FROM undc x JOIN undc y ON x.src = y.src AND x.dst < y.dst),
       |nonadj AS (SELECT w.a, w.c, w.b FROM w
       |           WHERE NOT EXISTS (SELECT 1 FROM pairs p
       |                             WHERE p.p1 = w.a AND p.p2 = w.c)),
       |sc AS (SELECT a, c,
       |              CAST(sum(CAST(round(1.0 / ln(deg.deg) * 1000000) AS BIGINT)) AS BIGINT) AS sq
       |       FROM nonadj JOIN deg ON nonadj.b = deg.b GROUP BY a, c)
       |SELECT a AS part_a, c AS part_b,
       |       round(CAST(sq AS DOUBLE) / 1000000.0, 6) AS aa_score, ch.n_capped_hubs
       |FROM sc, ch ORDER BY aa_score DESC, part_a, part_b LIMIT 20""".stripMargin,
  ) { (spark, dir) =>
    adamicAdarCappedOf(minedEdges(spark, dir), AaHubCap)
  }

  /** The capped Adamic–Adar plan over any canonical (p1 < p2) edge list —
    * extracted so the celebrity-hub fixture spec runs the registered
    * query's real cap/wedge/anti-join/quantized-sum pipeline. */
  private[graft] def adamicAdarCappedOf(edges: DataFrame, cap: Int): DataFrame = {
    val e = graft.Caches.persist(edges.select($"p1", $"p2"))
    val und = e.select($"p1".as("src"), $"p2".as("dst"))
      .union(e.select($"p2".as("src"), $"p1".as("dst")))
    val deg = und.select($"src".as("b")).groupBy($"b")
      .agg(count(lit(1)).as("deg"))
    val undc = und
      .withColumn("rk", row_number().over(
        Window.partitionBy($"src").orderBy($"dst".asc)))
      .filter($"rk" <= cap)
      .select($"src", $"dst")
    val nCapped = deg.filter($"deg" > cap)
      .agg(count(lit(1)).as("n_capped_hubs"))
    val w = undc.as("x").join(undc.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("b"), col("x.dst").as("a"), col("y.dst").as("c"))
    val nonadj = w.join(e,
      w("a") === e("p1") && w("c") === e("p2"), "left_anti")
    nonadj.join(deg, "b")
      .groupBy($"a", $"c")
      .agg(sum(round(lit(1.0) / log($"deg") * 1000000).cast("long")).as("sq"))
      .crossJoin(broadcast(nCapped))
      .select($"a".as("part_a"), $"c".as("part_b"),
        round($"sq".cast("double") / 1000000.0, 6).as("aa_score"),
        $"n_capped_hubs")
      .orderBy($"aa_score".desc, $"part_a", $"part_b")
      .limit(20)
  }

  /** Local clustering coefficient per node — cc(v) = 2·T(v) / (deg(v)·
    * (deg(v)−1)) for deg ≥ 2 — how close each part's co-occurrence
    * neighborhood is to a clique, completing the graph-metrics set
    * (degree → [[degreeDist]], closure → [[triangles]], centrality →
    * [[pageRank]], distance → [[bfsLevels]], prediction → [[adamicAdar]]).
    * Reuses [[trianglesOf]]'s closure (each triangle credits its three
    * corners; Catalyst's EliminateSorts drops the builder's ORDER BY under
    * the aggregate) and the degree aggregate; the one float division per
    * node runs on exact integers, rounded to 6 dp on both engines. */
  val clusterCoeff: QueryDef = QueryDef(
    "graph_cluster_coeff",
    s"""WITH $edgesSql,
       |tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
       |        FROM pairs e1 JOIN pairs e2 ON e2.p1 = e1.p2
       |             JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
       |tc AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |         SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
       |         UNION ALL SELECT c FROM tri) GROUP BY v),
       |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS degree FROM (
       |          SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs)
       |        GROUP BY p)
       |SELECT deg.p AS part, deg.degree, coalesce(tc.n_tri, 0) AS n_tri,
       |       round(CAST(2 * coalesce(tc.n_tri, 0) AS DOUBLE)
       |             / (deg.degree * (deg.degree - 1)), 6) AS cc
       |FROM deg LEFT JOIN tc ON deg.p = tc.v
       |WHERE deg.degree >= 2
       |ORDER BY part""".stripMargin,
  ) { (spark, dir) =>
    clusterCoeffOf(minedEdges(spark, dir))
  }

  /** The clustering-coefficient plan over any canonical (p1 < p2) edge
    * list — extracted for the fixture spec, per the repo convention. */
  private[graft] def clusterCoeffOf(edges: DataFrame): DataFrame = {
    val e = graft.Caches.persist(edges.select($"p1", $"p2"))
    val tri = trianglesOf(e)
    val tc = tri.select($"a".as("v"))
      .unionAll(tri.select($"b".as("v")))
      .unionAll(tri.select($"c".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("n_tri"))
    val deg = e.select($"p1".as("p")).union(e.select($"p2".as("p")))
      .groupBy($"p").agg(count(lit(1)).as("degree"))
    deg.join(tc, deg("p") === tc("v"), "left")
      .filter($"degree" >= 2)
      .select($"p".as("part"), $"degree",
        coalesce($"n_tri", lit(0L)).as("n_tri"),
        round((lit(2) * coalesce($"n_tri", lit(0L))).cast("double")
          / ($"degree" * ($"degree" - 1)), 6).as("cc"))
      .orderBy($"part")
  }

  /** Connected-component structure of the mined co-occurrence graph —
    * component id (minimum member part) and size, largest first: the one
    * graph staple the metrics suite was missing (is the graph one giant
    * market-basket component or many niches?). Resolution is
    * [[LlmTextOps.clusterLsOf]] — the O(log n)-round large-star/
    * small-star twin — on its second registered surface, here over mined
    * part edges instead of near-dup doc pairs; the oracle replays
    * membership as the same recursive transitive-closure CTE the dedup
    * cluster uses. */
  val components: QueryDef = QueryDef(
    "graph_components",
    s"""WITH RECURSIVE $edgesSql,
       |nodes AS (SELECT p1 AS id FROM pairs UNION SELECT p2 FROM pairs),
       |e AS (SELECT p1 AS a, p2 AS b FROM pairs
       |      UNION ALL SELECT p2 AS a, p1 AS b FROM pairs),
       |reach AS (SELECT id, id AS r FROM nodes
       |          UNION
       |          SELECT e.b AS id, reach.r AS r FROM reach JOIN e ON e.a = reach.id),
       |lbl AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
       |SELECT comp AS component, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM lbl GROUP BY comp ORDER BY n_nodes DESC, component""".stripMargin,
  ) { (spark, dir) =>
    val e = minedEdges(spark, dir)
    val nodes = e.select($"p1".as("doc_id"))
      .union(e.select($"p2".as("doc_id"))).distinct()
    LlmTextOps.clusterLsOf(
        e.select($"p1".as("doc_a"), $"p2".as("doc_b")), nodes)
      .groupBy($"cluster_id").agg(count(lit(1)).as("n_nodes"))
      .select($"cluster_id".as("component"), $"n_nodes")
      .orderBy($"n_nodes".desc, $"component")
  }

  /** Safety cap on parallel peeling rounds. Each round deletes EVERY
    * currently-under-k vertex at once, so the round count is the graph's
    * peel depth — empirically logarithmic on co-occurrence-like graphs
    * (11 rounds at sf0.01, k=3), worst-case linear on adversarial chains.
    * Hitting the cap throws rather than returning a superset of the core
    * (the loud-failure convention of every capped loop here). */
  private val MaxPeelRounds = 64

  /** k-core membership by parallel peeling: repeatedly delete all
    * vertices of degree < k until stable; survivors are the k-core.
    * `edges` is the canonical (p1 < p2) undirected list. Per round: one
    * endpoint-keyed degree aggregate and two anti-joins against the
    * victim set — never a pair expansion; the victim table is a bounded
    * fraction of the vertex set. Loop state is localCheckpointed every
    * round (the prior edge set is referenced by the degree agg AND the
    * anti-joins — the lineage rule); the driver holds only
    * edge counts. Deletion is monotone, so an unchanged edge count IS the
    * fixpoint. */
  private[graft] def kcoreOf(edges: DataFrame, k: Int): DataFrame = {
    val verts = edges.select($"p1".as("p"))
      .union(edges.select($"p2".as("p"))).distinct()
    var e = graft.Caches.persist(edges.select($"p1".as("a"), $"p2".as("b")))
    var nEdges = e.count()
    var converged = nEdges == 0L
    var iter = 0
    // Round-17: peel rounds at a width sized from the MEASURED edge count
    // (a count the loop guard already pays) — the clusterLsOf pattern.
    withLoopWidth(edges.sparkSession, loopPartsFor(edges.sparkSession, nEdges)) {
    while (!converged && iter < MaxPeelRounds) {
      val deg = e.select($"a".as("p")).union(e.select($"b".as("p")))
        .groupBy($"p").agg(count(lit(1)).as("dg"))
      val victims = deg.filter($"dg" < k).select($"p")
      // Round-18: fused checkpoint+count — one job per peel round.
      val (next, nNext) = graft.Caches.localCheckpointCount(
        e.join(victims.select($"p".as("a")), Seq("a"), "left_anti")
          .join(victims.select($"p".as("b")), Seq("b"), "left_anti")
          .select($"a", $"b"))
      converged = nNext == nEdges || nNext == 0L
      e = next
      nEdges = nNext
      iter += 1
    }
    }
    if (!converged)
      throw new IllegalStateException(
        s"kcoreOf did not stabilize after $MaxPeelRounds peeling rounds — " +
          "refusing to return a superset of the core")
    val coreDeg = e.select($"a".as("p")).union(e.select($"b".as("p")))
      .groupBy($"p").agg(count(lit(1)).as("core_degree"))
    verts.join(coreDeg, Seq("p"), "left")
      .select($"p".as("node"),
        when($"core_degree".isNotNull, 1L).otherwise(0L).as("in_core"),
        coalesce($"core_degree", lit(0L)).as("core_degree"))
      .orderBy($"node")
  }

  private val KCoreK = 3
  private val KCoreOracleRounds = 14 // fixpoint at 11 on sf0.01; margin no-ops

  /** The peeling loop unrolled to chained DuckDB CTEs (the
    * `graph_pagerank` / `llm_kmeans_train` oracle technique) — sound
    * because rounds past the fixpoint are no-ops, so any unroll length ≥
    * the actual peel depth replays the Spark fixpoint exactly. Each
    * round's edge set is MATERIALIZED: every round references its
    * predecessor three times (two degree scans + the filter), so default
    * CTE inlining would expand 3^rounds plan copies — at 14 rounds that
    * is millions of parquet scans (observed as a too-many-open-files
    * failure), where materialization evaluates each round once. */
  private def kcoreCtes(rounds: Int, k: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""d$r AS (SELECT p, count(*) AS dg
         |        FROM (SELECT a AS p FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
         |        GROUP BY 1),
         |v$r AS (SELECT p FROM d$r WHERE dg < $k),
         |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
         |        WHERE a NOT IN (SELECT p FROM v$r) AND b NOT IN (SELECT p FROM v$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |e0 AS MATERIALIZED (SELECT p1 AS a, p2 AS b FROM pairs),
       |$rs""".stripMargin
  }

  /** 3-core of the mined co-occurrence graph: every node with its
    * membership flag and within-core degree — the standard dense-region
    * extractor (community seeds, spam/bot rings, "only keep parts with
    * ≥ 3 mutually-supported partners"). */
  val kcore: QueryDef = QueryDef(
    "graph_kcore",
    s"""${kcoreCtes(KCoreOracleRounds, KCoreK)},
       |verts AS (SELECT DISTINCT p FROM (SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs)),
       |cd AS (SELECT p, CAST(count(*) AS BIGINT) AS core_degree
       |       FROM (SELECT a AS p FROM e$KCoreOracleRounds UNION ALL SELECT b FROM e$KCoreOracleRounds)
       |       GROUP BY 1)
       |SELECT v.p AS node,
       |       CAST(CASE WHEN cd.p IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_core,
       |       coalesce(cd.core_degree, 0) AS core_degree
       |FROM verts v LEFT JOIN cd ON v.p = cd.p ORDER BY node""".stripMargin,
  ) { (spark, dir) =>
    kcoreOf(minedEdges(spark, dir), KCoreK)
  }

  /** Per-edge triangle support over a canonical (p1 < p2) edge list: the
    * [[trianglesOf]] two-join closure, each triangle crediting its three
    * edges. Shared by the [[ktrussOf]] peeling rounds. */
  private def edgeSupportOf(e: DataFrame): DataFrame = {
    val t = e.as("e1").join(e.as("e2"), col("e1.p2") === col("e2.p1"))
      .join(e.as("e3"),
        col("e3.p1") === col("e1.p1") && col("e3.p2") === col("e2.p2"))
      .select(col("e1.p1").as("a"), col("e1.p2").as("b"), col("e2.p2").as("c"))
    t.select($"a".as("x"), $"b".as("y"))
      .unionAll(t.select($"b".as("x"), $"c".as("y")))
      .unionAll(t.select($"a".as("x"), $"c".as("y")))
      .groupBy($"x", $"y").agg(count(lit(1)).as("s"))
  }

  /** k-truss membership by parallel edge peeling — the EDGE analog of
    * [[kcoreOf]] (Cohen 2008): repeatedly delete every edge in fewer than
    * k−2 triangles of the CURRENT subgraph until stable; survivors are
    * the k-truss, the standard stronger-than-core dense-region extractor
    * (every surviving tie is re-witnessed by ≥ k−2 common neighbors, so
    * chains and stars that survive k-core peeling fall away). Per round:
    * one [[trianglesOf]]-shaped closure (two equi-joins on the canonical
    * orientation — never a pair expansion), a (p1,p2)-keyed support
    * aggregate, and one keyed anti-filter; loop state localCheckpointed
    * per round, driver holds only edge counts; deletion is monotone so an
    * unchanged count IS the fixpoint, and hitting [[MaxPeelRounds]]
    * throws (the loud-failure convention). Emits every ORIGINAL edge
    * with its membership flag and within-truss support. */
  private[graft] def ktrussOf(edges: DataFrame, k: Int): DataFrame = {
    val orig = graft.Caches.persist(edges.select($"p1", $"p2"))
    var e = orig
    var nEdges = e.count()
    var converged = nEdges == 0L
    var iter = 0
    // Round-17: truss peel rounds at the measured-edge-count width
    // (the kcoreOf arrangement; values are width-independent).
    withLoopWidth(edges.sparkSession, loopPartsFor(edges.sparkSession, nEdges)) {
    while (!converged && iter < MaxPeelRounds) {
      val sup = edgeSupportOf(e)
      // Round-18: fused checkpoint+count — one job per peel round.
      val (next, nNext) = graft.Caches.localCheckpointCount(
        e.join(sup, $"p1" === $"x" && $"p2" === $"y", "left")
          .filter(coalesce($"s", lit(0L)) >= k - 2)
          .select($"p1", $"p2"))
      converged = nNext == nEdges || nNext == 0L
      e = next
      nEdges = nNext
      iter += 1
    }
    }
    if (!converged)
      throw new IllegalStateException(
        s"ktrussOf did not stabilize after $MaxPeelRounds peeling rounds — " +
          "refusing to return a superset of the truss")
    val finalSup = edgeSupportOf(e)
    orig
      .join(e.select($"p1", $"p2", lit(1L).as("in_truss")), Seq("p1", "p2"), "left")
      .join(finalSup.select($"x".as("p1"), $"y".as("p2"), $"s"),
        Seq("p1", "p2"), "left")
      .select($"p1", $"p2",
        coalesce($"in_truss", lit(0L)).as("in_truss"),
        coalesce($"s", lit(0L)).as("truss_support"))
      .orderBy($"p1", $"p2")
  }

  private[graft] val KTrussK = 3
  // margin over the observed fixpoint; GraphOpsSpec asserts the slack
  // mechanically (last unrolled oracle round must be a no-op), so the
  // constant re-validates when the test data changes (round-13 ADVICE)
  private[graft] val KTrussOracleRounds = 8

  /** The truss peeling loop unrolled to materialized CTEs — the
    * [[kcoreCtes]] technique verbatim: rounds past the fixpoint are
    * no-ops, each round's edge set referenced multiple times must
    * MATERIALIZE or inlining goes exponential. */
  private def ktrussCtes(rounds: Int, k: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""t$r AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
         |        FROM e${r - 1} e1 JOIN e${r - 1} e2 ON e2.p1 = e1.p2
         |             JOIN e${r - 1} e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
         |s$r AS (SELECT x, y, count(*) AS s FROM (
         |          SELECT a AS x, b AS y FROM t$r
         |          UNION ALL SELECT b, c FROM t$r
         |          UNION ALL SELECT a, c FROM t$r) GROUP BY 1, 2),
         |e$r AS MATERIALIZED (
         |        SELECT e.p1, e.p2 FROM e${r - 1} e
         |        LEFT JOIN s$r ON s$r.x = e.p1 AND s$r.y = e.p2
         |        WHERE coalesce(s$r.s, 0) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |e0 AS MATERIALIZED (SELECT p1, p2 FROM pairs),
       |$rs""".stripMargin
  }

  /** 3-truss of the mined co-occurrence graph: every original edge with
    * its truss membership and within-truss triangle support. */
  val ktruss: QueryDef = QueryDef(
    "graph_ktruss",
    s"""${ktrussCtes(KTrussOracleRounds, KTrussK)},
       |ft AS MATERIALIZED (
       |        SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
       |        FROM e$KTrussOracleRounds e1
       |        JOIN e$KTrussOracleRounds e2 ON e2.p1 = e1.p2
       |        JOIN e$KTrussOracleRounds e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
       |fs AS (SELECT x, y, count(*) AS s FROM (
       |         SELECT a AS x, b AS y FROM ft
       |         UNION ALL SELECT b, c FROM ft
       |         UNION ALL SELECT a, c FROM ft) GROUP BY 1, 2)
       |SELECT p.p1, p.p2,
       |       CAST(CASE WHEN e.p1 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_truss,
       |       CAST(coalesce(fs.s, 0) AS BIGINT) AS truss_support
       |FROM pairs p
       |LEFT JOIN e$KTrussOracleRounds e ON e.p1 = p.p1 AND e.p2 = p.p2
       |LEFT JOIN fs ON fs.x = p.p1 AND fs.y = p.p2
       |ORDER BY p.p1, p.p2""".stripMargin,
  ) { (spark, dir) =>
    ktrussOf(minedEdges(spark, dir), KTrussK)
  }

  private val LpRounds = 4

  /** Synchronous label propagation over any canonical (p1 < p2) edge list,
    * `rounds` fixed iterations — extracted for the two-clique fixture
    * spec. Every node starts as its own label; each round every node
    * adopts the most frequent label among its neighbors, ties broken by
    * the SMALLEST label. The synchronous fixed-round form is deliberate:
    * asynchronous LPA (the usual "until converged" formulation) is
    * visit-order-dependent and therefore unreproducible across cluster
    * topologies — this form is a pure function of the edge set, so the
    * same corpus gives the same communities on 1 core or 1000 executors,
    * and the oracle can replay every round exactly. */
  private[graft] def labelPropOf(edges: DataFrame, rounds: Int): DataFrame = {
    // the undirected view feeds every round's join → persist once
    val und = graft.Caches.persist(
      edges.select($"p1".as("u"), $"p2".as("v"))
        .union(edges.select($"p2".as("u"), $"p1".as("v"))))
    var lbl = und.select($"u".as("p")).distinct().select($"p", $"p".as("lbl"))
    for (_ <- 1 to rounds) {
      val cnt = und.join(lbl.select($"p".as("v"), $"lbl"), "v")
        .groupBy($"u", $"lbl").agg(count(lit(1)).as("c"))
      lbl = cnt
        .withColumn("rk", row_number().over(
          Window.partitionBy($"u").orderBy($"c".desc, $"lbl".asc)))
        .filter($"rk" === 1)
        .select($"u".as("p"), $"lbl")
    }
    val sizes = lbl.groupBy($"lbl").agg(count(lit(1)).as("n_members"))
    lbl.join(sizes, Seq("lbl"))
      .select($"p".as("node"), $"lbl".as("community"), $"n_members")
      .orderBy($"node")
  }

  /** The label-propagation rounds unrolled to chained CTEs (the
    * `graph_pagerank` oracle technique — sound here because the round
    * count is FIXED, not convergence-driven, so both engines run exactly
    * [[LpRounds]] rounds). */
  private def labelPropCtes(rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""c$r AS (SELECT und.u, l.lbl, count(*) AS c
         |        FROM und JOIN l${r - 1} l ON l.p = und.v GROUP BY 1, 2),
         |l$r AS (SELECT u AS p, lbl FROM (
         |          SELECT u, lbl, row_number() OVER (PARTITION BY u
         |                 ORDER BY c DESC, lbl) AS rk FROM c$r) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |und AS (SELECT p1 AS u, p2 AS v FROM pairs
       |        UNION ALL SELECT p2 AS u, p1 AS v FROM pairs),
       |l0 AS (SELECT DISTINCT u AS p, u AS lbl FROM und),
       |$rs""".stripMargin
  }

  /** Community detection by label propagation (Raghavan et al. 2007) over
    * the mined co-occurrence graph: after [[LpRounds]] synchronous rounds
    * every node reports its community label and the community's size —
    * the density-based grouping the metrics suite lacked ([[components]]
    * answers "connected at all?", this answers "which dense region?").
    *
    * Scale shape: per round, one equi-join of the edge list against the
    * (node, label) table, one (node, label)-keyed count, and one
    * rank-and-filter window partitioned by node (high-cardinality — no
    * SinglePartition); label state is one row per node. Round count is a
    * constant, not data-driven, so the plan is round-bounded at any graph
    * size and the oracle replays it round-for-round. */
  val labelProp: QueryDef = QueryDef(
    "graph_label_prop",
    s"""${labelPropCtes(LpRounds)},
       |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_members
       |       FROM l$LpRounds GROUP BY 1)
       |SELECT l.p AS node, l.lbl AS community, sz.n_members
       |FROM l$LpRounds l JOIN sz ON l.lbl = sz.lbl
       |ORDER BY node""".stripMargin,
  ) { (spark, dir) =>
    labelPropOf(minedEdges(spark, dir), LpRounds)
  }

  /** MODULARITY of the [[labelProp]] partition — the number that says
    * whether the communities MEAN anything: Q = Σ_c [e_c/m − (d_c/2m)²]
    * (Newman 2006), per community the fraction of edges inside it minus
    * the fraction expected under random wiring at the same degrees.
    * Q ≈ 0 → no better than random; Q ≳ 0.3 → real structure. Emits the
    * per-community decomposition (members, internal edges, total degree,
    * quantized contribution) plus the headline Q on every row.
    *
    * All inputs are exact integers (edge counts, degree sums); each
    * community's term is one float expression quantized to a 1e-9 BIGINT
    * before the total, so Q is exact integer addition cross-engine. Cost
    * on top of [[labelProp]]: two label-keyed joins of the edge list and
    * two community-keyed aggregates — label state stays one row per
    * node. */
  val modularity: QueryDef = QueryDef(
    "graph_modularity",
    s"""${labelPropCtes(LpRounds)},
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
       |ein AS (SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS e_in
       |        FROM pairs p JOIN l$LpRounds la ON p.p1 = la.p
       |             JOIN l$LpRounds lb ON p.p2 = lb.p
       |        WHERE la.lbl = lb.lbl GROUP BY 1),
       |dtot AS (SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS d_tot,
       |                CAST(count(DISTINCT u) AS BIGINT) AS n_members
       |         FROM und JOIN l$LpRounds l ON und.u = l.p GROUP BY 1),
       |terms AS (SELECT dtot.community, dtot.n_members,
       |                 coalesce(ein.e_in, 0) AS e_in, dtot.d_tot,
       |                 CAST(round((CAST(coalesce(ein.e_in, 0) AS DOUBLE) / mm.m
       |                             - (CAST(dtot.d_tot AS DOUBLE) / (2 * mm.m))
       |                               * (CAST(dtot.d_tot AS DOUBLE) / (2 * mm.m)))
       |                            * 1000000000) AS BIGINT) AS contrib_e9
       |          FROM dtot LEFT JOIN ein ON dtot.community = ein.community, mm),
       |qt AS (SELECT sum(contrib_e9) AS q_e9 FROM terms)
       |SELECT t.community, t.n_members, t.e_in, t.d_tot, t.contrib_e9,
       |       round(CAST(qt.q_e9 AS DOUBLE) / 1000000000.0, 6) AS q
       |FROM terms t, qt ORDER BY t.community""".stripMargin,
  ) { (spark, dir) =>
    modularityOf(minedEdges(spark, dir), LpRounds)
  }

  /** The modularity readout over any canonical (p1 < p2) edge list and
    * its [[labelPropOf]] partition — extracted for the two-clique spec
    * (near-perfect split scores high; one-blob scores ~0). */
  private[graft] def modularityOf(edges: DataFrame, rounds: Int): DataFrame = {
    val e = graft.Caches.persist(edges.select($"p1", $"p2"))
    val lbl = graft.Caches.persist(
      labelPropOf(e, rounds).select($"node", $"community"))
    val mm = e.agg(count(lit(1)).as("m"))
    val ein = e
      .join(lbl.select($"node".as("p1"), $"community".as("ca")), "p1")
      .join(lbl.select($"node".as("p2"), $"community".as("cb")), "p2")
      .filter($"ca" === $"cb")
      .groupBy($"ca".as("community")).agg(count(lit(1)).as("e_in"))
    val und = e.select($"p1".as("u")).union(e.select($"p2".as("u")))
    val dtot = und.join(lbl.select($"node".as("u"), $"community"), "u")
      .groupBy($"community")
      .agg(count(lit(1)).as("d_tot"), countDistinct($"u").as("n_members"))
    val terms = dtot.join(ein, Seq("community"), "left")
      .crossJoin(broadcast(mm))
      .select($"community", $"n_members",
        coalesce($"e_in", lit(0L)).as("e_in"), $"d_tot",
        round((coalesce($"e_in", lit(0L)).cast("double") / $"m"
          - ($"d_tot".cast("double") / (lit(2) * $"m"))
            * ($"d_tot".cast("double") / (lit(2) * $"m"))) * 1000000000L)
          .cast("long").as("contrib_e9"))
    val qt = terms.agg(sum($"contrib_e9").as("q_e9"))
    terms.crossJoin(broadcast(qt))
      .select($"community", $"n_members", $"e_in", $"d_tot", $"contrib_e9",
        round($"q_e9".cast("double") / 1000000000.0, 6).as("q"))
      .orderBy($"community")
  }

  /** HITS iterations — movement is near-fixed-point well before 8 on this
    * graph; each round is two edge-keyed joins, so more rounds are linear
    * cost. */
  private val HitsIters = 8

  /** HITS (Kleinberg 1999) hubs-and-authorities over the DIRECTED
    * canonical orientation (p1 → p2) of the mined co-occurrence graph —
    * the mutually-recursive centrality pair PageRank's single score can't
    * express: a hub points at good authorities, an authority is pointed
    * at by good hubs. On the p1 < p2 orientation low-id parts can only be
    * hubs of high-id authorities, so the two rankings genuinely differ.
    *
    * Per round: authority mass a(i) = Σ_{j→i} h(j), then hub mass
    * h(i) = Σ_{i→j} a(j), each renormalized to mean 1 (a(i)·n / Σa —
    * the classical L1 normalization up to the constant n, which keeps
    * scores O(1) at any graph size instead of underflowing toward 0).
    *
    * Determinism ([[pageRankOf]] architecture): per-edge contributions
    * quantize to 1e-9 BIGINTs BEFORE the shuffled sum; the normalizer is
    * the exact BIGINT total, broadcast as a scalar; the only float ops
    * are one multiply and one divide per node per half-round, identical
    * in both engines. Scale shape: two edge equi-joins + two node
    * aggregates per round, state = one double per node; scores are
    * referenced twice per half-round (contributions + total), so lineage
    * truncates every round (the lineage rule). */
  private[graft] def hitsOf(edges: DataFrame, iters: Int): DataFrame = {
    // HITS joins the edge table on BOTH endpoints (src for the auth
    // half-round, dst for the hub half-round), so cache one copy aligned
    // to each key: 2× edge storage buys zero edge shuffles across all
    // 2·iters half-rounds — only vertex-sized hub/auth tables move.
    // Round-17: every loop shuffle runs at [[loopParts]] width (the edge
    // frame's materialized size signal), the q-frame is checkpointed so
    // the scalar total reads 1 vertex-sized block instead of re-running
    // the edge join, and nn is a checkpointed leaf instead of 2·iters
    // re-aggregations — together 17 s → ~5 s at sf0.1 (the round-16
    // drift-watch item on this lane), values bit-identical.
    val p = loopParts(edges)
    val eSrc = graft.Caches.persist(
      edges.select($"src", $"dst").repartition(p, $"src"))
    val eDst = graft.Caches.persist(
      edges.select($"src", $"dst").repartition(p, $"dst"))
    val nodes = graft.Caches.persist(
      eSrc.select($"src".as("id")).union(eSrc.select($"dst".as("id")))
        .distinct().repartition(p, $"id"))
    val nn = graft.Caches.localCheckpoint(nodes.agg(count(lit(1)).as("nn")))
    var hub = nodes.select($"id", lit(1.0).as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val aq = graft.Caches.localCheckpoint(
        eSrc.join(hub.select($"id".as("src"), $"h"), "src")
          .select($"dst".as("id"), round($"h" * 1e9).cast("long").as("cq"))
          .repartition(p, $"id").groupBy($"id").agg(sum($"cq").as("q")))
      val at = aq.agg(sum($"q").as("t"))
      auth = graft.Caches.localCheckpoint(
        nodes.join(aq, Seq("id"), "left")
          .crossJoin(broadcast(at)).crossJoin(broadcast(nn))
          .select($"id",
            (coalesce($"q", lit(0L)).cast("double") * $"nn" / $"t").as("a")))
      val hq = graft.Caches.localCheckpoint(
        eDst.join(auth.select($"id".as("dst"), $"a"), "dst")
          .select($"src".as("id"), round($"a" * 1e9).cast("long").as("cq"))
          .repartition(p, $"id").groupBy($"id").agg(sum($"cq").as("q")))
      val ht = hq.agg(sum($"q").as("t"))
      hub = graft.Caches.localCheckpoint(
        nodes.join(hq, Seq("id"), "left")
          .crossJoin(broadcast(ht)).crossJoin(broadcast(nn))
          .select($"id",
            (coalesce($"q", lit(0L)).cast("double") * $"nn" / $"t").as("h")))
    }
    hub.join(auth, "id")
  }

  /** The [[hitsOf]] fixed point unrolled to chained DuckDB CTEs (the
    * [[prSql]] technique): same quantized BIGINT contribution per
    * edge, same `q·n/t` normalization expression per half-round. The
    * normalizer t is `sum(q) OVER ()` — the identical exact BIGINT total
    * the Spark side broadcasts — expressed as a window so every CTE in
    * the chain is referenced exactly ONCE: DuckDB inlines repeated CTE
    * references, and a separate total-CTE per half-round would double
    * the expansion each level (4^iters copies of the lineitem scan —
    * observed as an fd-exhaustion failure at 8 rounds). */
  private def hitsSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""aq$i AS (SELECT e.dst AS id, sum(CAST(round(h.h * 1e9) AS BIGINT)) AS q
         |        FROM ded e JOIN h${i - 1} h ON h.id = e.src GROUP BY 1),
         |a$i AS (SELECT n.id, CAST(coalesce(aq.q, 0) AS DOUBLE) * nn.nn
         |               / sum(coalesce(aq.q, 0)) OVER () AS a
         |        FROM nodes n LEFT JOIN aq$i aq ON n.id = aq.id, nn),
         |hq$i AS (SELECT e.src AS id, sum(CAST(round(a.a * 1e9) AS BIGINT)) AS q
         |        FROM ded e JOIN a$i a ON a.id = e.dst GROUP BY 1),
         |h$i AS (SELECT n.id, CAST(coalesce(hq.q, 0) AS DOUBLE) * nn.nn
         |               / sum(coalesce(hq.q, 0)) OVER () AS h
         |        FROM nodes n LEFT JOIN hq$i hq ON n.id = hq.id, nn)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |ded AS (SELECT p1 AS src, p2 AS dst FROM pairs),
       |nodes AS (SELECT src AS id FROM ded UNION SELECT dst FROM ded),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
       |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS h FROM nodes),
       |$rounds
       |SELECT h.id AS part, round(h.h, 6) AS hub, round(a.a, 6) AS auth
       |FROM h$iters h JOIN a$iters a ON h.id = a.id
       |ORDER BY hub DESC, part LIMIT 20""".stripMargin
  }

  /** Top-20 hubs with their authority scores ([[HitsIters]] rounds),
    * hash-verified against the unrolled DuckDB fixed point. */
  val hits: QueryDef = QueryDef(
    "graph_hits",
    hitsSql(HitsIters),
  ) { (spark, dir) =>
    val und = minedEdges(spark, dir)
    hitsOf(und.select($"p1".as("src"), $"p2".as("dst")), HitsIters)
      .select($"id".as("part"), round($"h", 6).as("hub"),
        round($"a", 6).as("auth"))
      .orderBy($"hub".desc, $"part")
      .limit(20)
  }

  /** Jaccard-coefficient link prediction over the mined co-occurrence
    * graph — |N(a)∩N(c)| / |N(a)∪N(c)| for non-adjacent pairs sharing at
    * least one neighbor, the set-overlap complement of [[adamicAdar]]'s
    * rare-neighbor weighting (Jaccard normalizes by the pair's combined
    * neighborhood size, so two low-degree nodes with one shared hub can
    * outrank a celebrity pair).
    *
    * Shape: identical to Adamic–Adar — wedge expansion on the shared hub,
    * anti-join against the edge set, then the intersection count per pair;
    * the union comes from the degree table as deg(a)+deg(c)−inter, so no
    * second neighborhood pass. Same 100 TB caveat and mitigation as
    * [[adamicAdarCapped]] (per-hub cap bounds wedge volume).
    *
    * Determinism: the score is quantized by POSITIVE-integer division
    * (inter·1e6 DIV union — floor ≡ truncate above zero, identical in
    * both engines); ORDER/LIMIT ties break on the pair key. */
  val jaccardLinks: QueryDef = QueryDef(
    "graph_jaccard_links",
    s"""WITH $edgesSql,
       |und AS (SELECT p1 AS src, p2 AS dst FROM pairs
       |        UNION ALL SELECT p2 AS src, p1 AS dst FROM pairs),
       |deg AS (SELECT src AS b, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src),
       |w AS (SELECT x.src AS b, x.dst AS a, y.dst AS c
       |      FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst),
       |nonadj AS (SELECT w.a, w.c FROM w
       |           WHERE NOT EXISTS (SELECT 1 FROM pairs p
       |                             WHERE p.p1 = w.a AND p.p2 = w.c)),
       |inter AS (SELECT a, c, CAST(count(*) AS BIGINT) AS n_common
       |          FROM nonadj GROUP BY a, c),
       |sc AS (SELECT i.a, i.c, i.n_common,
       |              CAST(i.n_common * 1000000 // (da.deg + dc.deg - i.n_common) AS BIGINT) AS jq
       |       FROM inter i JOIN deg da ON i.a = da.b JOIN deg dc ON i.c = dc.b)
       |SELECT a AS part_a, c AS part_b, n_common,
       |       round(CAST(jq AS DOUBLE) / 1000000.0, 6) AS jaccard
       |FROM sc ORDER BY jaccard DESC, part_a, part_b LIMIT 20""".stripMargin,
  ) { (spark, dir) =>
    jaccardLinksOf(minedEdges(spark, dir))
  }

  /** The Jaccard link-prediction plan over any canonical (p1 < p2) edge
    * list — extracted so the fixture spec runs the registered query's
    * real wedge/anti-join/quantized-division pipeline. */
  private[graft] def jaccardLinksOf(edges: DataFrame): DataFrame = {
    val e = graft.Caches.persist(edges.select($"p1", $"p2"))
    val und = e.select($"p1".as("src"), $"p2".as("dst"))
      .union(e.select($"p2".as("src"), $"p1".as("dst")))
    val deg = und.select($"src".as("b")).groupBy($"b")
      .agg(count(lit(1)).as("deg"))
    val w = und.as("x").join(und.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("a"), col("y.dst").as("c"))
    val inter = w.join(e,
        w("a") === e("p1") && w("c") === e("p2"), "left_anti")
      .groupBy($"a", $"c").agg(count(lit(1)).as("n_common"))
    inter
      .join(deg.select($"b".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"b".as("c"), $"deg".as("dc")), "c")
      .select($"a", $"c", $"n_common",
        expr("n_common * 1000000L DIV (da + dc - n_common)").as("jq"))
      .select($"a".as("part_a"), $"c".as("part_b"), $"n_common",
        round($"jq".cast("double") / 1000000.0, 6).as("jaccard"))
      .orderBy($"jaccard".desc, $"part_a", $"part_b")
      .limit(20)
  }

  /** Hierarchical subtree rollup (org-chart / bill-of-materials explosion):
    * for every node of a forest, the size and total balance of its entire
    * subtree. The forest is the synthetic binary heap `parent(k) = k DIV 2`
    * over customer keys (root 1; key 0 is an isolated self-node), value =
    * exact account-balance cents — but the implementation never uses that
    * closed form: it sees only a generic `(child, parent)` edge table, so
    * the same code rolls up any adjacency-list hierarchy.
    *
    * Algorithm: ancestor-closure by POINTER DOUBLING — after round k the
    * closure holds every (descendant, ancestor) pair at distance < 2^k and
    * the jump table maps each node to its 2^k-th ancestor, so a depth-d
    * hierarchy closes in ⌈log₂ d⌉ keyed joins instead of the d rounds of
    * the naive parent-at-a-time walk (the BOM-explosion classic; same
    * O(log) discipline as `llm_dedup_cluster`'s star contraction). Distances
    * are unique per (des, anc) pair, so no round produces duplicates and no
    * DISTINCT is needed. Closure size is n·depth rows — for a balanced
    * hierarchy n·log n, the irreducible cost of reporting EVERY node's
    * subtree; the rollup itself is one anc-keyed count/sum. Loop state is
    * localCheckpointed per round (≤ ⌈log₂ depth⌉ ≈ 5 rounds here). */
  val treeRollup: QueryDef = QueryDef(
    "graph_tree_rollup",
    """WITH RECURSIVE pairs AS (
      |  SELECT c_custkey AS anc, c_custkey AS des FROM customer
      |  UNION ALL
      |  SELECT anc // 2 AS anc, des FROM pairs WHERE anc > 1)
      |SELECT p.anc AS node, CAST(count(*) AS BIGINT) AS subtree_size,
      |       CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS subtree_cents
      |FROM pairs p JOIN customer c ON c.c_custkey = p.des
      |WHERE p.anc <= 40
      |GROUP BY p.anc ORDER BY node""".stripMargin,
  ) { (spark, dir) =>
    val nodes = graft.Caches.persist(
      Tables.customer(spark, dir)
        .select($"c_custkey".as("des"),
          floor($"c_acctbal" * 100 + 0.5).cast("long").as("cents")))
    // generic (v, u) = "u is the 2^k-th ancestor of v"; k = 0 to start
    val parentEdges = nodes
      .select($"des".as("v"), expr("des DIV 2").as("u"))
      .filter($"u" >= 1 && $"v" > 1)
    var jump = graft.Caches.localCheckpoint(parentEdges)
    // closure after round 0: distances 0 (self) and 1 (parent)
    var reach = graft.Caches.localCheckpoint(
      nodes.select($"des", $"des".as("anc"))
        .unionAll(parentEdges.select($"v".as("des"), $"u".as("anc"))))
    // Round-17: doubling rounds at the first checkpoint's materialized
    // width ([[loopParts]] — task-launch overhead; values unchanged).
    withLoopWidth(spark, loopParts(jump)) {
    // Round-18: fused checkpoint+count replaces the isEmpty probe job.
    var nJump = 1L
    while (nJump > 0) {
      val j2 = jump.as("a")
        .join(jump.as("b"), $"a.u" === $"b.v")
        .select($"a.v".as("v"), $"b.u".as("u")) // 2^k ∘ 2^k = 2^(k+1)
      val (jcp, nj) = graft.Caches.localCheckpointCount(j2)
      jump = jcp
      nJump = nj
      if (nJump > 0)
        reach = graft.Caches.localCheckpoint(
          reach.unionAll(
            reach.as("r").join(jump.as("j"), $"r.anc" === $"j.v")
              .select($"r.des".as("des"), $"j.u".as("anc"))))
    }
    }
    reach.filter($"anc" <= 40)
      .join(nodes, "des")
      .groupBy($"anc".as("node"))
      .agg(count(lit(1)).as("subtree_size"), sum($"cents").as("subtree_cents"))
      .orderBy($"node")
  }

  /** DeepWalk-style random-walk corpus over the co-occurrence graph: one
    * 5-node walk per seed node, next hop drawn UNIFORMLY from the sorted
    * neighbor list by the 60-bit md5 hash of (seed | step | node) — the
    * graph-embedding training-data generator (Perozzi et al. 2014), made
    * deterministic the same way the bootstrap draws its weights: hash-mod
    * instead of rand(), so the corpus is replayable and the DuckDB
    * recursive CTE reproduces every walk bit-for-bit.
    *
    * Scale shape: the adjacency table (node → sorted neighbor array) is
    * built once and persisted — the per-node analog of a posting index;
    * each of the 4 steps is ONE join keyed on the current node (the
    * frontier is |seeds| rows, never edges × steps), so walk length bounds
    * the rounds and walk count bounds the rows. At 100 TB you shard seeds
    * and stream walks out per shard; nothing here is quadratic. */
  val randomWalks: QueryDef = QueryDef(
    "graph_random_walks",
    s"""WITH RECURSIVE $edgesSql,
       |und AS (SELECT p1 AS v, p2 AS u FROM pairs UNION ALL SELECT p2 AS v, p1 AS u FROM pairs),
       |adj AS (SELECT v, list_sort(list(u)) AS nbrs FROM und GROUP BY v),
       |walk(seed, step, node) AS (
       |  SELECT v, 0, v FROM adj
       |  UNION ALL
       |  SELECT w.seed, w.step + 1,
       |         a.nbrs[1 + CAST(('0x' || substr(md5(w.seed || '|' || (w.step + 1) || '|' || w.node), 1, 15))::BIGINT % len(a.nbrs) AS INT)]
       |  FROM walk w JOIN adj a ON a.v = w.node
       |  WHERE w.step < 4)
       |SELECT seed, step, node FROM walk ORDER BY seed, step""".stripMargin,
  ) { (spark, dir) =>
    val edges = minedEdges(spark, dir)
    // Round-17: the adjacency table is hash-partitioned at the edge
    // frame's materialized width ([[loopParts]]) — each of the 4 hop
    // joins then shuffles only the frontier, at that width, instead of
    // 32-task near-empty stages (drift-watch lane; values unchanged).
    val lw = loopParts(edges)
    val adj = graft.Caches.persist(
      edges.select($"p1".as("v"), $"p2".as("u"))
        .unionAll(edges.select($"p2".as("v"), $"p1".as("u")))
        .repartition(lw, $"v")
        .groupBy($"v").agg(sort_array(collect_list($"u")).as("nbrs")))
    var walk = adj.select($"v".as("seed"), lit(0).as("step"), $"v".as("node"))
    var acc = walk
    for (t <- 1 to 4) {
      walk = walk.join(adj, $"node" === $"v")
        .withColumn("hv", call_function("md5hash60",
          concat($"seed".cast("string"), lit(s"|$t|"), $"node".cast("string"))))
        .select($"seed", lit(t).as("step"),
          element_at($"nbrs", (pmod($"hv", size($"nbrs")) + 1).cast("int")).as("node"))
      acc = acc.unionAll(walk)
    }
    acc.orderBy($"seed", $"step")
  }

  /** Degree ASSORTATIVITY (Newman 2002): do high-degree parts co-occur
    * with high-degree parts? Pearson correlation of endpoint degrees over
    * the SYMMETRIZED edge list (each undirected edge contributes (dᵤ,dᵥ)
    * and (dᵥ,dᵤ) — the standard treatment, which also makes the moment
    * sums order-independent), computed from exact integer moments with
    * one identically-parenthesized float at the end — the `stats_corr_
    * moments` discipline applied to graph structure. The one-number
    * summary of hub-vs-periphery mixing that degreeDist can't show. */
  val assortativity: QueryDef = QueryDef(
    "graph_assortativity",
    s"""WITH $edgesSql,
       |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS degree
       |        FROM (SELECT p1 AS p FROM pairs UNION ALL SELECT p2 AS p FROM pairs)
       |        GROUP BY p),
       |de AS (SELECT d1.degree AS dx, d2.degree AS dy
       |       FROM pairs JOIN deg d1 ON pairs.p1 = d1.p
       |                  JOIN deg d2 ON pairs.p2 = d2.p),
       |sym AS (SELECT dx, dy FROM de UNION ALL SELECT dy AS dx, dx AS dy FROM de),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
       |             CAST(sum(dx * dy) AS BIGINT) AS sxy,
       |             CAST(sum(dx * dx) AS BIGINT) AS sxx,
       |             CAST(sum(dy * dy) AS BIGINT) AS syy
       |      FROM sym)
       |SELECT n // 2 AS n_edges,
       |       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS assortativity
       |FROM m""".stripMargin,
  ) { (spark, dir) =>
    val e = minedEdges(spark, dir)
    val deg = e.select($"p1".as("p")).union(e.select($"p2".as("p")))
      .groupBy($"p").agg(count(lit(1)).as("degree"))
    val de = e
      .join(deg.select($"p".as("p1"), $"degree".as("dx")), "p1")
      .join(deg.select($"p".as("p2"), $"degree".as("dy")), "p2")
      .select($"dx", $"dy")
    val sym = de.unionAll(de.select($"dy".as("dx"), $"dx".as("dy")))
    sym.agg(count(lit(1)).as("n"), sum($"dx").as("sx"), sum($"dy").as("sy"),
        sum($"dx" * $"dy").as("sxy"), sum($"dx" * $"dx").as("sxx"),
        sum($"dy" * $"dy").as("syy"))
      .select(expr("n DIV 2").as("n_edges"),
        expr("""round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)""")
          .as("assortativity"))
  }

  // ------------------------------------------------- weighted shortest path

  /** WEIGHT-carrying co-occurrence edge CTE — [[edgesSql]] with the support
    * count exposed as `w` (the sssp/louvain lanes price and score edges by
    * it; the unweighted twin keeps its narrower shape for the older
    * oracles). */
  private val wedgesSql =
    """bi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |wpairs AS (SELECT b1.l_partkey AS p1, b2.l_partkey AS p2,
      |                  CAST(count(*) AS BIGINT) AS w
      |           FROM bi b1 JOIN bi b2 ON b1.l_orderkey = b2.l_orderkey
      |                              AND b1.l_partkey < b2.l_partkey
      |           GROUP BY 1, 2 HAVING count(*) > 1)""".stripMargin

  /** Bellman-Ford rounds run (and unrolled in the oracle). One more than
    * [[bfsLevels]]' hop cap: with weights, a 4-edge path can undercut a
    * 2-edge one — the extra round is exactly where SSSP and BFS diverge. */
  private val SsspRounds = 4

  /** Bounded Bellman-Ford over any `(src, dst, cost)` edge list (both
    * orientations) — distances reachable within `rounds` edges from the
    * minimum src id. Per round: ONE equi-join of the vertex-sized distance
    * frame to the src-partitioned cached edge table (edges never move after
    * the initial partition — the power-iteration arrangement) and ONE
    * (node)-keyed min. State is the distance map, never paths, so there is
    * no path explosion at any scale; rounds beyond the graph's weighted
    * diameter are no-ops. Distance state is referenced twice per round
    * (relax join + union), so lineage truncates per round like
    * [[bfsOf]]. */
  private[graft] def ssspOf(edges: DataFrame, rounds: Int): DataFrame = {
    // Round-17: relaxation rounds at the edge frame's materialized width
    // ([[loopParts]] — the task-launch-overhead fix, values unchanged).
    withLoopWidth(edges.sparkSession, loopParts(edges)) {
    val e = graft.Caches.persist(
      edges.select($"src", $"dst", $"cost").repartition($"src"))
    var dist = graft.Caches.localCheckpoint(
      e.agg(min($"src").as("node")).select($"node", lit(0L).as("d")))
    for (_ <- 1 to rounds) {
      dist = graft.Caches.localCheckpoint(
        dist.unionAll(
          e.join(dist.select($"node".as("src"), $"d"), "src")
            .select($"dst".as("node"), ($"d" + $"cost").as("d")))
          .groupBy($"node").agg(min($"d").as("d")))
    }
    dist
    }
  }

  /** Single-source WEIGHTED shortest paths ([[SsspRounds]]-round
    * Bellman-Ford) over the co-occurrence graph from its minimum part id —
    * the weighted sibling of [[bfsLevels]]. Edge cost prices affinity:
    * `1000 DIV w`, so frequently co-ordered pairs are cheap to traverse
    * and the readout is "how related is every part to the source along its
    * strongest chains", not mere hop count. Integer costs end to end: the
    * relaxation `min` and sums are exact BIGINTs in both engines, so the
    * whole distance map hash-matches. The oracle unrolls the identical
    * rounds as per-level CTEs (the [[bfsLevels]] technique) — each round is
    * |V|+|E| work, never path enumeration. */
  val sssp: QueryDef = QueryDef(
    "graph_sssp",
    s"""WITH $wedgesSql,
       |und AS (SELECT p1 AS src, p2 AS dst, CAST(1000 // w AS BIGINT) AS cost FROM wpairs
       |        UNION ALL SELECT p2, p1, CAST(1000 // w AS BIGINT) FROM wpairs),
       |d0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS d FROM und)
       |${(1 to SsspRounds).map(r =>
          s""", d$r AS (SELECT node, min(d) AS d FROM (
             |         SELECT node, d FROM d${r - 1}
             |         UNION ALL
             |         SELECT e.dst, p.d + e.cost FROM d${r - 1} p JOIN und e ON e.src = p.node
             |       ) GROUP BY node)""".stripMargin).mkString("\n")}
       |SELECT node AS part, d FROM d$SsspRounds ORDER BY part""".stripMargin,
  ) { (spark, dir) =>
    val und = minedEdges(spark, dir)
    val edges = und
      .select($"p1".as("src"), $"p2".as("dst"), expr("1000 DIV w").as("cost"))
      .unionAll(und
        .select($"p2".as("src"), $"p1".as("dst"), expr("1000 DIV w").as("cost")))
    ssspOf(edges, SsspRounds)
      .select($"node".as("part"), $"d")
      .orderBy($"part")
  }

  // ----------------------------------------------- Louvain modularity pass

  /** First Louvain pass (Blondel et al. 2008, "Fast unfolding of
    * communities in large networks") from the singleton partition, on the
    * WEIGHTED co-occurrence graph: every node inspects its neighbors'
    * (singleton) communities and takes the move with the largest modularity
    * gain, staying put when no move gains. With singleton communities the
    * gain of moving n next to c reduces to
    * `ΔQ·2m² = 2m·w(n,c) − deg(n)·deg(c)` — evaluated EXACTLY in BIGINTs,
    * so the argmax (ties toward the smaller candidate id) and the reported
    * scaled gains hash-match; no float modularity crosses the engines (the
    * float readout lives in [[modularity]]). This is the greedy-move
    * primitive the full Louvain loop iterates; one synchronous pass keeps
    * the op closed-form for the oracle while [[labelProp]] +
    * [[modularity]] cover the iterate-to-fixpoint side.
    *
    * Scale shape: weighted degrees are one (node)-keyed agg of the edge
    * list; the gain table is the edge list joined to the vertex-sized
    * degree frame on each endpoint (two equi-joins, never a pair
    * expansion); the argmax is a per-node window. */
  val louvainPass: QueryDef = QueryDef(
    "graph_louvain_pass",
    s"""WITH $wedgesSql,
       |und AS (SELECT p1 AS u, p2 AS v, w FROM wpairs
       |        UNION ALL SELECT p2, p1, w FROM wpairs),
       |mm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM wpairs),
       |deg AS (SELECT u, CAST(sum(w) AS BIGINT) AS dg FROM und GROUP BY u),
       |g AS (SELECT e.u AS node, e.v AS cand,
       |             2 * mm.m * e.w - du.dg * dv.dg AS gain
       |      FROM und e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v, mm),
       |best AS (SELECT node, cand, gain,
       |                row_number() OVER (PARTITION BY node ORDER BY gain DESC, cand) AS rk
       |         FROM g)
       |SELECT node AS part,
       |       CASE WHEN gain > 0 THEN cand ELSE node END AS community,
       |       CASE WHEN gain > 0 THEN gain ELSE 0 END AS gain2m2
       |FROM best WHERE rk = 1 ORDER BY part""".stripMargin,
  ) { (spark, dir) =>
    louvainPassOf(minedEdges(spark, dir))
  }

  /** The Louvain first pass over any canonical weighted `(p1, p2, w)` edge
    * list — extracted for the planted-fixture spec. */
  private[graft] def louvainPassOf(wp: DataFrame): DataFrame = {
    val und = wp.select($"p1".as("u"), $"p2".as("v"), $"w")
      .unionAll(wp.select($"p2".as("u"), $"p1".as("v"), $"w"))
    val mm = wp.agg(sum($"w").as("m"))
    val deg = und.groupBy($"u").agg(sum($"w").as("dg"))
    val g = und
      .join(deg.select($"u", $"dg".as("du")), "u")
      .join(deg.select($"u".as("v"), $"dg".as("dv")), "v")
      .crossJoin(broadcast(mm))
      .select($"u".as("node"), $"v".as("cand"),
        (lit(2L) * $"m" * $"w" - $"du" * $"dv").as("gain"))
    g.withColumn("rk", row_number().over(
        Window.partitionBy($"node").orderBy($"gain".desc, $"cand".asc)))
      .filter($"rk" === 1)
      .select($"node".as("part"),
        when($"gain" > 0, $"cand").otherwise($"node").as("community"),
        when($"gain" > 0, $"gain").otherwise(lit(0L)).as("gain2m2"))
      .orderBy($"part")
  }

  // ------------------------------------------------- full Louvain rounds

  /** Local-move rounds run by [[louvainFull]] (and unrolled in its
    * oracle) — even, so each parity class moves the same number of
    * times. The op is defined as exactly-R-rounds (deterministic on both
    * engines) rather than "until converged". */
  private val LouvainRounds = 4

  /** FULL Louvain local-move phase — [[louvainPass]] iterated from the
    * singleton partition for [[LouvainRounds]] synchronous rounds, with
    * communities no longer singletons after round 1. The general move
    * criterion (Blondel et al. 2008, eq. 2, exact-integer 2m² scaling):
    * node u joins the candidate community c (its neighbors' current
    * communities plus staying put) maximizing
    * `score·2m² = 2m·w(u,c) − deg(u)·(Σtot(c) − [c = own]·deg(u))`
    * — w(u,c) the weight from u into c, Σtot the community's total
    * weighted degree, the bracket removing u's own degree when scoring
    * its current home (staying scores 0 from singletons, so an updating
    * node's round-1 move is [[louvainPass]]'s exactly). Argmax ties break
    * to the smaller community id; every score is an exact BIGINT, so the
    * full assignment hash-matches (at 100 TB-scale weights the 2m·w
    * product would move to DECIMAL(38,0) per the repo-wide discipline).
    *
    * Moves are SEMI-SYNCHRONOUS: round r only lets nodes of id parity
    * `r mod 2` move, the rest hold — the standard distributed-Louvain
    * fix (coloring/alternating move sets) for the 2-cycle oscillation
    * fully synchronous argmax provably falls into (two mutually-best
    * nodes swap communities forever and cliques never coalesce; traced
    * in the spec fixture). Parity is a deterministic 2-coloring proxy:
    * cheap on both engines, and enough to break every mutual-swap cycle
    * between opposite-parity pairs.
    *
    * Scale shape per round: Σtot is a community-keyed agg of the
    * vertex-sized (node, comm, deg) frame; w(u,c) is ONE edge-shuffle —
    * the edge list (cached pre-partitioned on the neighbor key, the
    * round-11 power-iteration lesson) joined to the vertex-sized
    * assignment; scoring joins are all on the aggregated (u, cand)
    * candidate frame (≤ edges, usually far smaller); the argmax is a
    * window PARTITIONED by node. Nothing corpus-sized crosses a round
    * boundary except the one edge join every Louvain implementation
    * pays. */
  /** One oracle local-move round over edge table `und`, degree table
    * `deg`, assignment prefix `cm` — shared by [[louvainFull]] (fine
    * graph) and [[louvainCoarsen]] (supergraph, where `skipSelf` drops
    * self-loop edges from the candidate weights: after any move a
    * supernode's self-loop is internal to it, so it shifts every
    * candidate's w(u,c) equally and cancels in the argmax — it still
    * counts in degrees, Σtot and m). */
  private def louvainRoundCte(r: Int, und: String, deg: String, cm: String,
      skipSelf: Boolean): String = {
    val p = r - 1
    val self = if (skipSelf) " WHERE e.u <> e.v" else ""
    s""",
       |${cm}tot$r AS (SELECT c.comm, CAST(sum(d.dg) AS BIGINT) AS tot
       |          FROM $cm$p c JOIN $deg d ON d.u = c.node GROUP BY 1),
       |${cm}wnc$r AS (SELECT e.u, c.comm AS cand, CAST(sum(e.w) AS BIGINT) AS wuc
       |          FROM $und e JOIN $cm$p c ON c.node = e.v$self GROUP BY 1, 2),
       |${cm}cand$r AS (SELECT u, cand, CAST(sum(wuc) AS BIGINT) AS wuc FROM (
       |             SELECT u, cand, wuc FROM ${cm}wnc$r
       |             UNION ALL SELECT node, comm, 0 FROM $cm$p) GROUP BY 1, 2),
       |${cm}sc$r AS (SELECT a.u, a.cand, c.comm AS own,
       |                2 * mm.m * a.wuc
       |                - d.dg * (t.tot - CASE WHEN a.cand = c.comm THEN d.dg ELSE 0 END)
       |                  AS score
       |         FROM ${cm}cand$r a JOIN $cm$p c ON c.node = a.u
       |              JOIN $deg d ON d.u = a.u
       |              JOIN ${cm}tot$r t ON t.comm = a.cand, mm),
       |$cm$r AS MATERIALIZED (SELECT u AS node,
       |                CASE WHEN u % 2 = ${r % 2} THEN cand ELSE own END AS comm
       |         FROM (
       |           SELECT u, cand, own,
       |                  row_number() OVER (PARTITION BY u ORDER BY score DESC, cand) AS rk
       |           FROM ${cm}sc$r) WHERE rk = 1)""".stripMargin
  }

  /** The fine-graph local-move CTE chain ending in `cm<rounds>` — shared
    * by the [[louvainFull]] and [[louvainCoarsen]] oracles. */
  private def louvainCtes(rounds: Int): String =
    s"""WITH $wedgesSql,
       |und AS MATERIALIZED (SELECT p1 AS u, p2 AS v, w FROM wpairs
       |        UNION ALL SELECT p2, p1, w FROM wpairs),
       |mm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM wpairs),
       |deg AS MATERIALIZED (SELECT u, CAST(sum(w) AS BIGINT) AS dg FROM und GROUP BY u),
       |cm0 AS MATERIALIZED (SELECT u AS node, u AS comm FROM deg)
       |${(1 to rounds).map(louvainRoundCte(_, "und", "deg", "cm", skipSelf = false)).mkString}""".stripMargin

  /** One oracle contraction level: `prev`'s communities contract edge
    * table `src` into supergraph `ce` (inter-community weights summed,
    * intra-community weights as self-loops), which gets its edge table
    * `und`, degree table `deg` and [[CoarseRounds]] local-move rounds
    * ending in `<cm><CoarseRounds>` — shared by the [[louvainCoarsen]]
    * (one level) and [[louvainMultilevel]] (two levels) oracles. */
  private def louvainLevelCtes(ce: String, src: String, prev: String,
      und: String, deg: String, cm: String): String =
    s""",
       |$ce AS MATERIALIZED (
       |  SELECT least(a.comm, b.comm) AS p1, greatest(a.comm, b.comm) AS p2,
       |         CAST(sum(e.w) AS BIGINT) AS w
       |  FROM $src e JOIN $prev a ON a.node = e.p1
       |       JOIN $prev b ON b.node = e.p2
       |  GROUP BY 1, 2),
       |$und AS MATERIALIZED (SELECT p1 AS u, p2 AS v, w FROM $ce
       |        UNION ALL SELECT p2, p1, w FROM $ce),
       |$deg AS MATERIALIZED (SELECT u, CAST(sum(w) AS BIGINT) AS dg FROM $und GROUP BY u),
       |${cm}0 AS MATERIALIZED (SELECT u AS node, u AS comm FROM $deg)""".stripMargin +
      (1 to CoarseRounds)
        .map(louvainRoundCte(_, und, deg, cm, skipSelf = true))
        .mkString

  val louvainFull: QueryDef = QueryDef(
    "graph_louvain",
    louvainCtes(LouvainRounds) +
      s"""
         |SELECT c.node AS part, c.comm AS community, s.comm_size
         |FROM cm$LouvainRounds c
         |JOIN (SELECT comm, CAST(count(*) AS BIGINT) AS comm_size
         |      FROM cm$LouvainRounds GROUP BY 1) s USING (comm)
         |ORDER BY part""".stripMargin,
  ) { (spark, dir) =>
    louvainFullOf(minedEdges(spark, dir), LouvainRounds,
      Some(sharedLouvainFine(spark, dir)))
  }

  /** The [[LouvainRounds]]-round fine-pass assignment over the mined
    * co-occurrence graph, computed ONCE per (session, input dir) and
    * shared by the `graph_louvain` / `graph_louvain_coarsen` /
    * `graph_louvain_multilevel` registry lanes via [[graft.Caches.memo]]
    * — all three run the IDENTICAL local-move rounds on the IDENTICAL
    * edge set before diverging (flat readout / one contraction / the
    * full hierarchy), the same one-partition-computed-thrice shape the
    * SCC memo closed in round 14. Vertex-sized (node, comm). Fixture
    * seams pass no frame and pay the local rounds. */
  private def sharedLouvainFine(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("graph_louvain_fine", dir) {
      louvainAssignOf(minedEdges(spark, dir),
        LouvainRounds)
    }

  /** The [[louvainFull]] local-move loop over any canonical weighted
    * `(p1, p2, w)` edge list (self-loops allowed when the list is a
    * contracted supergraph — `skipSelf` then drops them from the
    * candidate weights, where they cancel across candidates, while
    * keeping them in degrees and m). Returns the (node, comm)
    * assignment after `rounds` parity-alternating rounds. */
  private[graft] def louvainAssignOf(wp: DataFrame, rounds: Int,
      skipSelf: Boolean = false): DataFrame = {
    // Round-17: the whole local-move loop runs at the edge frame's
    // materialized width ([[loopParts]]; the registry passes the memoized
    // co-occurrence leaf) — at bench SF the graph is 1-2 blocks and the
    // session-wide 32-task shuffles across rounds × ~6 stages were pure
    // launch overhead (louvain-multilevel drift-watch lane); contraction
    // frames plan lazily at the session width, so coarse passes keep
    // their width. Values are width-independent.
    withLoopWidth(wp.sparkSession, loopParts(wp)) {
    val mm = wp.agg(sum($"w").as("m"))
    // neighbor-keyed edge cache: the ONLY edge-sized join each round is on
    // v, so the cached partitioning is reused every round
    val und = graft.Caches.persist(
      wp.select($"p1".as("u"), $"p2".as("v"), $"w")
        .unionAll(wp.select($"p2".as("u"), $"p1".as("v"), $"w"))
        .repartition($"v"))
    val deg = graft.Caches.persist(und.groupBy($"u").agg(sum($"w").as("dg")))
    val wEdges = if (skipSelf) und.filter($"u" =!= $"v") else und
    var cm = graft.Caches.localCheckpoint(
      deg.select($"u".as("node"), $"u".as("comm")))
    for (r <- 1 to rounds) {
      val tot = cm.join(deg, $"node" === $"u")
        .groupBy($"comm").agg(sum($"dg").as("tot"))
      val wnc = wEdges
        .join(cm.select($"node".as("v"), $"comm".as("cand")), "v")
        .groupBy($"u", $"cand").agg(sum($"w").as("wuc"))
      val cand = wnc
        .unionAll(cm.select($"node".as("u"), $"comm".as("cand"),
          lit(0L).as("wuc")))
        .groupBy($"u", $"cand").agg(sum($"wuc").as("wuc"))
      val scored = cand
        .join(cm.select($"node".as("u"), $"comm".as("own")), "u")
        .join(deg.select($"u", $"dg"), "u")
        .join(tot.select($"comm".as("cand"), $"tot"), "cand")
        .crossJoin(broadcast(mm))
        .select($"u", $"cand", $"own",
          (lit(2L) * $"m" * $"wuc"
            - $"dg" * ($"tot" - when($"cand" === $"own", $"dg")
              .otherwise(lit(0L)))).as("score"))
      cm = graft.Caches.localCheckpoint(
        scored.withColumn("rk", row_number().over(
            Window.partitionBy($"u").orderBy($"score".desc, $"cand".asc)))
          .filter($"rk" === 1)
          .select($"u".as("node"),
            when($"u" % 2 === lit(r % 2), $"cand").otherwise($"own")
              .as("comm")))
    }
    cm
    }
  }

  /** [[louvainFull]] over any canonical weighted `(p1, p2, w)` edge list —
    * extracted for the planted-two-clique spec. `fine0` = the
    * [[sharedLouvainFine]] frame when the registry lane passes it. */
  private[graft] def louvainFullOf(wp: DataFrame, rounds: Int,
      fine0: Option[DataFrame] = None): DataFrame =
    fine0.getOrElse(louvainAssignOf(wp, rounds))
      .withColumn("comm_size", count(lit(1)).over(Window.partitionBy($"comm")))
      .select($"node".as("part"), $"comm".as("community"), $"comm_size")
      .orderBy($"part")

  /** Coarse-phase local-move rounds for [[louvainCoarsen]] — even, like
    * [[LouvainRounds]]. */
  private val CoarseRounds = 2

  /** Louvain PHASE 2 (Blondel et al. 2008 §2): contract the
    * [[louvainFull]] communities into supernodes — inter-community
    * weights sum into supergraph edges, intra-community weights become
    * self-loops — then rerun the same exact-integer local-move criterion
    * on the supergraph for [[CoarseRounds]] parity-alternating rounds and
    * project the coarse communities back down to the original nodes.
    * This is the step that makes Louvain HIERARCHICAL: communities the
    * flat pass leaves fragmented (each node already locally optimal)
    * merge once they act as single nodes. Self-loop handling is the
    * published one: self-loops count in degrees, Σtot and m (a
    * supernode's internal weight travels with it) but drop out of the
    * candidate weights w(u,c), where they would shift every candidate
    * equally and cannot change the argmax.
    *
    * Scale shape: the contraction is ONE edge-list join to the
    * vertex-sized assignment per endpoint plus a (comm-pair)-keyed sum —
    * the supergraph is orders of magnitude smaller, so the coarse rounds
    * run on a frame the size of the COMMUNITY COUNT; everything else is
    * the audited [[louvainAssignOf]] shape. */
  val louvainCoarsen: QueryDef = QueryDef(
    "graph_louvain_coarsen",
    louvainCtes(LouvainRounds) +
      louvainLevelCtes("ce", "wpairs", s"cm$LouvainRounds", "und2", "deg2", "km") +
      s"""
         |SELECT c.node AS part, k.comm AS community, s.comm_size
         |FROM cm$LouvainRounds c
         |JOIN km$CoarseRounds k ON k.node = c.comm
         |JOIN (SELECT k2.comm, CAST(count(*) AS BIGINT) AS comm_size
         |      FROM cm$LouvainRounds c2 JOIN km$CoarseRounds k2 ON k2.node = c2.comm
         |      GROUP BY 1) s ON s.comm = k.comm
         |ORDER BY part""".stripMargin,
  ) { (spark, dir) =>
    louvainMultilevelOf(minedEdges(spark, dir),
      LouvainRounds, CoarseRounds, levels = 1,
      fine0 = Some(sharedLouvainFine(spark, dir)))
  }

  /** Coarsening levels beyond the fine pass for [[louvainMultilevel]].
    * FIXED (not converge-until-stable) for the same reason every
    * iterative lane here runs synchronous fixed rounds: a data-dependent
    * level count is irreproducible across engines, while levels past the
    * fixpoint are exact no-ops (a stable assignment contracts to the
    * identity supergraph, on which further local moves change nothing) —
    * so the fixed unroll equals the fixpoint whenever it is reached, and
    * the spec asserts exactly that on the planted fixture. */
  private val MultiLevels = 2

  /** FULL multi-level Louvain (Blondel et al. 2008 §2 iterated): the
    * [[louvainCoarsen]] contract-and-move step applied [[MultiLevels]]
    * times — fine pass ([[LouvainRounds]] rounds), then per level:
    * contract communities to supernodes (inter-community weights sum to
    * supergraph edges, intra-community weights to self-loops) and rerun
    * [[CoarseRounds]] local-move rounds on the supergraph, projecting
    * back down through the level maps at the end. This is the published
    * hierarchy: each level merges communities the previous level left
    * locally optimal as individuals.
    *
    * Scale shape: each contraction is one edge-list join per endpoint to
    * the vertex-sized assignment plus a (comm-pair)-keyed sum, and every
    * level's graph is at most community-count-sized — the frames SHRINK
    * geometrically, so the whole hierarchy costs little more than the
    * fine pass ([[louvainAssignOf]]'s audited shape throughout). */
  val louvainMultilevel: QueryDef = QueryDef(
    "graph_louvain_multilevel",
    louvainCtes(LouvainRounds) +
      louvainLevelCtes("ce", "wpairs", s"cm$LouvainRounds", "und2", "deg2", "km") +
      louvainLevelCtes("ce2", "ce", s"km$CoarseRounds", "und3", "deg3", "jm") +
      s"""
         |SELECT c.node AS part, j.comm AS community, s.comm_size
         |FROM cm$LouvainRounds c
         |JOIN km$CoarseRounds k ON k.node = c.comm
         |JOIN jm$CoarseRounds j ON j.node = k.comm
         |JOIN (SELECT j2.comm, CAST(count(*) AS BIGINT) AS comm_size
         |      FROM cm$LouvainRounds c2
         |      JOIN km$CoarseRounds k2 ON k2.node = c2.comm
         |      JOIN jm$CoarseRounds j2 ON j2.node = k2.comm
         |      GROUP BY 1) s ON s.comm = j.comm
         |ORDER BY part""".stripMargin,
  ) { (spark, dir) =>
    louvainMultilevelOf(minedEdges(spark, dir),
      LouvainRounds, CoarseRounds, MultiLevels,
      Some(sharedLouvainFine(spark, dir)))
  }

  /** The one Louvain contraction loop: [[louvainMultilevel]] over any
    * canonical weighted `(p1, p2, w)` edge list, `levels` contract-and-move
    * steps on top of the fine pass — `levels = 1` is the
    * [[louvainCoarsen]] lane (the former `louvainCoarsenOf`). `fine0` =
    * the [[sharedLouvainFine]] frame (already materialized, so it is not
    * re-persisted). */
  private[graft] def louvainMultilevelOf(wp: DataFrame, rounds: Int,
      coarseRounds: Int, levels: Int,
      fine0: Option[DataFrame] = None): DataFrame = {
    var assign = fine0.getOrElse(
      graft.Caches.persist(louvainAssignOf(wp, rounds)))
    var proj = assign.select($"node", $"comm".as("community"))
    var graph = wp
    // Round-17: coarse levels at the fine assignment's materialized width
    // (the shared memo leaf when the registry passes it) — each level's
    // graph is community-sized, so the nested louvainAssignOf loops
    // inherit this width via their lazy-input no-op case.
    withLoopWidth(wp.sparkSession, loopParts(assign)) {
    for (_ <- 1 to levels) {
      val ce = graph
        .join(assign.select($"node".as("p1"), $"comm".as("c1")), "p1")
        .join(assign.select($"node".as("p2"), $"comm".as("c2")), "p2")
        .select(least($"c1", $"c2").as("p1"), greatest($"c1", $"c2").as("p2"),
          $"w")
        .groupBy($"p1", $"p2").agg(sum($"w").as("w"))
      val km = graft.Caches.persist(
        louvainAssignOf(ce, coarseRounds, skipSelf = true))
      proj = proj
        .join(km.select($"node".as("community"), $"comm".as("nc")), "community")
        .select($"node", $"nc".as("community"))
      graph = ce
      assign = km
    }
    }
    proj
      .withColumn("comm_size",
        count(lit(1)).over(Window.partitionBy($"community")))
      .select($"node".as("part"), $"community", $"comm_size")
      .orderBy($"part")
  }

  // ------------------------------------------ strongly connected components

  /** Caps for [[sccOf]]'s three nested loops. Trim/color/confirm rounds are
    * bounded by (respectively) the DAG part's peel depth, the longest
    * remaining path, and the largest SCC's diameter; outer rounds by the
    * condensation depth of the cyclic part. All empirically single-digit on
    * order-sequence graphs; hitting a cap throws (the [[kcoreOf]]
    * loud-failure convention) rather than emitting a wrong partition. */
  private val MaxSccOuter = 32
  private val MaxSccInner = 64

  /** DIRECTED part-succession edges: within each order's lineitem sequence
    * (by linenumber), an edge from each part to the NEXT part when both
    * share a brand — "after putting X in the basket, X's brand-mate Y
    * follows". One window over order-partitioned lineitems (no self-join);
    * the brand gate keeps the graph sparse enough that its cyclic structure
    * is non-trivial (mutual-succession rings) instead of one giant SCC. */
  private[graft] def brandSuccessorEdges(lineitem: DataFrame,
      part: DataFrame): DataFrame = {
    // (orderkey, linenumber) is NOT unique in this data (generator quirk:
    // ~12k dup pairs at sf0.01) — the partkey tiebreaker makes the lead()
    // order total, hence engine-independent
    val w = Window.partitionBy($"o").orderBy($"ln", $"p")
    lineitem
      .select($"l_orderkey".as("o"), $"l_linenumber".as("ln"),
        $"l_partkey".as("p"))
      .join(part.select($"p_partkey".as("p"), $"p_brand".as("br")), "p")
      .withColumn("np", lead($"p", 1).over(w))
      .withColumn("nbr", lead($"br", 1).over(w))
      .filter($"np".isNotNull && $"br" === $"nbr" && $"p" =!= $"np")
      .select($"p".as("src"), $"np".as("dst"))
      .distinct()
  }

  /** Strongly connected components of a directed edge list by
    * trim + forward-max coloring + backward confirmation (the
    * Orzan/Hong-style coloring scheme that FB-trisection engines and
    * Pregel SCC both build on):
    *
    *  1. TRIM — a node with no in-edge or no out-edge in the remaining
    *     graph is on no cycle, hence a singleton SCC; peel to fixpoint.
    *     This resolves the entire DAG part in peel-depth rounds.
    *  2. COLOR — propagate `C(v) = max(v, max over in-edges of C(u))` to
    *     fixpoint: v's color is the largest remaining id that reaches it.
    *     The per-node max only grows, so `sum(C)` is strictly monotone and
    *     an unchanged sum IS the fixpoint (one cheap scalar per round).
    *  3. CONFIRM — class roots are `C(v) = v`; walk REVERSE edges from
    *     each root simultaneously, restricted to same-color edges, to
    *     fixpoint. A confirmed v satisfies both "root reaches v" (its
    *     color) and "v reaches root" (the walk), i.e. v ∈ SCC(root); the
    *     restriction is lossless because any v→root path stays inside the
    *     color class (anything on it is reached by the root and reaches
    *     the root, so its color is exactly the root). Assign, remove,
    *     repeat from 1 — the max remaining id's SCC always confirms, so
    *     every outer round makes progress.
    *
    * Scale shape: state is two vertex-sized frames (colors, confirmed) and
    * the edge list — never reachability SETS (the oracle's quadratic
    * closure is test-SF-only); every round is an edge equi-join plus a
    * node-keyed max, the [[pageRankOf]] shape, with same-class edges
    * cached pre-partitioned on the walk key for the confirm loop. Loop
    * state is localCheckpointed per round (each frame is referenced
    * multiple times per round — the lineage rule).
    *
    * Output ids are normalized to the MINIMUM member (the [[components]]
    * convention), so labels are engine-independent. */
  private[graft] def sccOf(edges0: DataFrame): DataFrame = {
    import graft.Caches.{localCheckpoint, localCheckpointCount,
      localCheckpointCountSum, persist}
    // Round-18: every counted checkpoint in this function is the FUSED
    // one-job form (materialize + convergence statistic together — see
    // [[graft.Caches.localCheckpointCount]]); the loops below ran 2-3
    // jobs per round for frames of a few hundred rows.
    var (e, nE) = localCheckpointCount(edges0.select($"src", $"dst").distinct())
    // every endpoint id, fixed ONCE: singleton SCCs (every trim casualty)
    // are derived at the very end as allNodes ∖ confirmed-members, so the
    // trim loop below never maintains a node frame or a done union — a
    // per-phase timing put the old per-round bookkeeping (trimmed-set +
    // node-set + done-union checkpoints, ~4 actions/round over 24+8 peel
    // rounds) at over half the trim phase's 16 s.
    val allNodes = localCheckpoint(
      e.select($"src".as("id")).union(e.select($"dst".as("id"))).distinct())
    // confirmed (id, root) parts; seeded with an empty frame so a
    // zero-edge input yields a zero-row result. Each appended part is
    // ALREADY localCheckpointed by its producing round, so parts are
    // collected lazily and unioned once at the end.
    val confirmedParts = scala.collection.mutable.Buffer[DataFrame](
      allNodes.select($"id", $"id".as("root")).filter(lit(false)))
    var outer = 0
    // Round-17: every trim/color/confirm round at a width sized from the
    // MEASURED edge count (paid above) — the clusterLsOf pattern; the
    // final label readout plans lazily at the restored session width.
    withLoopWidth(edges0.sparkSession,
        loopPartsFor(edges0.sparkSession, nE)) {
    while (nE > 0 && outer < MaxSccOuter) {
      // 1) trim to fixpoint ON THE EDGE FRAME ALONE: keep only edges whose
      //    BOTH endpoints still have an in-edge and an out-edge (a node
      //    missing either is on no cycle — a singleton SCC — and so are
      //    its edges' contributions). Edge count can only fall, so an
      //    unchanged count IS the fixpoint: one checkpoint + one count per
      //    peel level, no node-set or done-set maintenance.
      var trimming = true
      var t = 0
      while (trimming && t < MaxSccInner) {
        // keep an edge iff its src still has an IN-edge and its dst an
        // OUT-edge — equivalent to the old membership test against
        // srcs ∩ dsts (an edge's src is trivially a src, its dst
        // trivially a dst), minus the intersect's two extra exchanges
        // per peel round (round-17: the trim fixpoint dominated the
        // shared SCC frame's build at 24 rounds × ~6 exchanges).
        val (e2, nE2) = localCheckpointCount(
          e.join(e.select($"dst".as("src")), Seq("src"), "left_semi")
            .join(e.select($"src".as("dst")), Seq("dst"), "left_semi")
            .select($"src", $"dst"))
        if (nE2 == nE) trimming = false
        e = e2
        nE = nE2
        t += 1
      }
      if (trimming) throw new IllegalStateException(
        s"sccOf trim did not stabilize in $MaxSccInner rounds")
      if (nE > 0) {
        // the surviving node set: at the trim fixpoint every src is also
        // a dst and vice versa, so srcs ∩ dsts = distinct srcs — one
        // aggregation instead of an intersect (round-17)
        val nodes = localCheckpoint(e.select($"src".as("id")).distinct())
        // 2) forward-max coloring to fixpoint (sum(C) monotone)
        var (c, _, cSum) = localCheckpointCountSum(
          nodes.select($"id", $"id".as("c")), "c")
        var stable = false
        var r = 0
        while (!stable && r < MaxSccInner) {
          val (next, _, nSum) = localCheckpointCountSum(
            c.unionAll(
              e.join(c.select($"id".as("src"), $"c"), "src")
                .select($"dst".as("id"), $"c"))
              .groupBy($"id").agg(max($"c").as("c")), "c")
          stable = nSum == cSum
          c = next
          cSum = nSum
          r += 1
        }
        if (!stable) throw new IllegalStateException(
          s"sccOf coloring did not stabilize in $MaxSccInner rounds")
        // 3) backward confirmation within color classes
        val sameClass = persist(
          e.join(c.select($"id".as("src"), $"c".as("cs")), "src")
            .join(c.select($"id".as("dst"), $"c".as("cd")), "dst")
            .filter($"cs" === $"cd")
            .select($"src", $"dst", $"cs".as("c"))
            .repartition($"dst"))
        var (m, nM) = localCheckpointCount(c.filter($"id" === $"c"))
        stable = false
        r = 0
        while (!stable && r < MaxSccInner) {
          val (next, nNext) = localCheckpointCount(
            m.unionAll(
              sameClass.join(m.select($"id".as("dst"), $"c"), Seq("dst", "c"))
                .select($"src".as("id"), $"c"))
              .distinct())
          stable = nNext == nM
          m = next
          nM = nNext
          r += 1
        }
        if (!stable) throw new IllegalStateException(
          s"sccOf confirmation did not stabilize in $MaxSccInner rounds")
        confirmedParts += m.select($"id", $"c".as("root"))
        val (e3, nE3) = localCheckpointCount(
          e.join(m.select($"id".as("src")), Seq("src"), "left_anti")
            .join(m.select($"id".as("dst")), Seq("dst"), "left_anti")
            .select($"src", $"dst"))
        e = e3
        nE = nE3
      }
      outer += 1
    }
    }
    if (nE > 0) throw new IllegalStateException(
      s"sccOf did not resolve every edge in $MaxSccOuter outer rounds")
    val conf = confirmedParts.reduce(_ unionAll _)
    // singleton SCCs: every node never confirmed into a multi-member class
    // (trim casualties at any peel level, plus isolated survivors)
    val done = conf.unionAll(
      allNodes.join(conf.select($"id"), Seq("id"), "left_anti")
        .select($"id", $"id".as("root")))
    val lab = done.groupBy($"root")
      .agg(min($"id").as("scc_id"), count(lit(1)).as("n_members"))
    done.join(lab, "root").select($"id".as("node"), $"scc_id", $"n_members")
  }

  /** SCC decomposition of the brand-gated part-succession graph — which
    * parts mutually follow each other across baskets (succession RINGS,
    * invisible to the undirected [[components]]). The oracle replays
    * membership as the mutual-reachability closure (`a.r = b.id ∧ a.id =
    * b.r`) — quadratic and test-SF-only, where the engine's coloring
    * rounds keep vertex-sized state. */
  val scc: QueryDef = QueryDef(
    "graph_scc",
    """WITH RECURSIVE s AS (SELECT l.l_orderkey AS o, l.l_linenumber AS ln,
      |                            l.l_partkey AS p, pt.p_brand AS br
      |                     FROM lineitem l JOIN part pt ON pt.p_partkey = l.l_partkey),
      |nx AS (SELECT p AS src, lead(p) OVER (PARTITION BY o ORDER BY ln, p) AS dst,
      |              br, lead(br) OVER (PARTITION BY o ORDER BY ln, p) AS nbr
      |       FROM s),
      |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM nx
      |                   WHERE dst IS NOT NULL AND br = nbr AND src <> dst),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |reach AS (SELECT id, id AS r FROM nodes
      |          UNION
      |          SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
      |scc AS MATERIALIZED (SELECT a.id, min(a.r) AS scc_id
      |                     FROM reach a JOIN reach b ON a.id = b.r AND a.r = b.id
      |                     GROUP BY a.id),
      |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS n_members FROM scc GROUP BY 1)
      |SELECT scc.id AS node, scc.scc_id, sz.n_members
      |FROM scc JOIN sz USING (scc_id) ORDER BY node""".stripMargin,
  ) { (spark, dir) => sharedScc(spark, dir).orderBy($"node") }

  /** The SCC partition of the brand-succession graph, computed ONCE per
    * (session, input dir) and shared by [[scc]] and [[sccCondense]] via
    * [[graft.Caches.memo]] — the two registry lanes need the IDENTICAL
    * partition of the IDENTICAL edge set, and re-running the
    * coloring+confirmation rounds for the second lane was 11% of the
    * clean bench (round-13 verdict). Vertex-sized (node, scc_id,
    * n_members) — safe to keep live for a whole runner session. */
  private def sharedScc(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("graph_scc_frame", dir) {
      sccOf(brandSuccessorEdges(
        Tables.lineitem(spark, dir), Tables.part(spark, dir)))
    }

  // ------------------------------------------------- landmark closeness

  private[graft] val ClosenessLandmarks = 8
  // hop caps: GraphOpsSpec asserts landmark eccentricity stays strictly
  // below each cap (slack, not truncation) so a testdata change that
  // deepens the graph fails the spec, not the oracle compare (round-13)
  private[graft] val ClosenessMaxHops = 24

  /** The (lm, id = lm) seed frame of the `nLm` landmark sources of a
    * directed (src, dst) edge list: the src ids with the smallest
    * portable-md5 (`md5hash60`), ties to the smaller id — a
    * deterministic uniform sample both engines reproduce. */
  private def landmarkSeeds(edges: DataFrame, nLm: Int): DataFrame =
    edges.select($"src".as("id")).distinct()
      .orderBy(call_function("md5hash60", $"id".cast("string")), $"id")
      .limit(nLm)
      .select($"id".as("lm"), $"id")

  /** Landmark closeness centrality: exact BFS distances from [[ClosenessLandmarks]]
    * hash-chosen landmark nodes (smallest portable-md5 of the id — a
    * deterministic uniform sample), aggregated per node into the standard
    * landmark estimate `n_landmarks_reached / Σ dist` (Eppstein & Wang
    * 2004 — the way closeness is computed at scale, since exact closeness
    * is all-pairs BFS). Distances are hop-capped at [[ClosenessMaxHops]]
    * on BOTH engines (true landmark eccentricity at sf0.01 is 11, so the
    * cap is slack, not truncation).
    *
    * Scale shape: ONE multi-source [[bfsOf]] carrying (landmark, node)
    * pairs — state k·|V|, rounds = eccentricity. The ppm division is
    * exact integer arithmetic, so rows hash-match. */
  private[graft] def closenessOf(edges: DataFrame, nLm: Int,
      maxHops: Int): DataFrame =
    bfsOf(edges, landmarkSeeds(edges, nLm), maxHops).groupBy($"id")
      .agg(count(lit(1)).as("n_lm"), sum($"d").as("sum_d"))
      .select($"id".as("node"), $"n_lm", $"sum_d",
        when($"sum_d" > 0, expr("n_lm * 1000000 DIV sum_d"))
          .otherwise(0L).as("closeness_ppm"))

  /** Landmark HARMONIC centrality (Marchiori & Latora 2000; Boldi & Vigna
    * 2014 argue it is the principled closeness on disconnected graphs:
    * unreachable nodes contribute 0 instead of poisoning the mean):
    * Σ 1/d over landmark sources, each term as an exact ⌊10⁶/d⌋ integer
    * so accumulation order cannot flip the hash cross-engine. Same
    * k·|V| BFS frame as [[closeness]], different aggregate. */
  val harmonic: QueryDef = QueryDef(
    "graph_harmonic",
    s"""WITH RECURSIVE $edgesSql,
       |und AS (SELECT p1 AS src, p2 AS dst FROM pairs
       |        UNION ALL SELECT p2, p1 FROM pairs),
       |lm AS (SELECT id AS lm FROM (SELECT DISTINCT src AS id FROM und)
       |       ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT, id
       |       LIMIT $ClosenessLandmarks),
       |reach AS (SELECT lm, lm AS id, 0 AS d FROM lm
       |          UNION
       |          SELECT reach.lm, und.dst AS id, reach.d + 1
       |          FROM reach JOIN und ON und.src = reach.id
       |          WHERE reach.d < $ClosenessMaxHops),
       |md AS (SELECT lm, id, min(d) AS d FROM reach GROUP BY 1, 2)
       |SELECT id AS node, CAST(count(*) AS BIGINT) AS n_lm,
       |       CAST(coalesce(sum(CASE WHEN d > 0 THEN 1000000 // d END), 0) AS BIGINT) AS harmonic_ppm
       |FROM md GROUP BY id ORDER BY node""".stripMargin,
  ) { (spark, dir) =>
    val und = minedEdges(spark, dir)
    val edges = und.select($"p1".as("src"), $"p2".as("dst"))
      .unionAll(und.select($"p2".as("src"), $"p1".as("dst")))
    harmonicOf(edges, ClosenessLandmarks, ClosenessMaxHops)
      .orderBy($"node")
  }

  /** [[harmonic]] over any directed (src, dst) edge list — fixture seam. */
  private[graft] def harmonicOf(edges: DataFrame, nLm: Int,
      maxHops: Int): DataFrame =
    bfsOf(edges, landmarkSeeds(edges, nLm), maxHops).groupBy($"id")
      .agg(count(lit(1)).as("n_lm"),
        sum(when($"d" > 0, expr("1000000 DIV d")).otherwise(0L))
          .as("harmonic_ppm"))
      .select($"id".as("node"), $"n_lm", $"harmonic_ppm")

  private[graft] val StressMaxHops = 12

  /** Landmark STRESS centrality (Shimbel 1953) — for each node, the
    * number of shortest paths from the landmark sources that pass THROUGH
    * it: the all-integer sibling of betweenness (no σ-ratio fractions), by
    * the two sweeps of Brandes 2001 restricted to [[ClosenessLandmarks]]
    * sources:
    *
    *  1. FORWARD (per level h): σ(s,v) = Σ σ(s,u) over DAG edges u→v with
    *     dist(s,u) = h−1 — the frontier aggregate IS the path count, so
    *     BFS and σ cost one pass together.
    *  2. BACKWARD (levels deepest→0): T(s,v) = Σ_{DAG succ w} (T(s,w)+1)
    *     counts the DAG paths leaving v; then Σ_t σ_st(v) = σ(s,v)·T(s,v)
    *     exactly (every s-t path through v = a shortest s-v path × a DAG
    *     path v-t), summed over sources with d > 0 so endpoints don't
    *     count themselves.
    *
    * Hops capped at [[StressMaxHops]] on BOTH engines (landmark
    * eccentricity is 11 at sf0.01; the oracle unrolls exactly this many
    * levels, and rounds past the true depth are empty no-ops). Probed
    * magnitudes (max σ 20, max T 4072 at sf0.01) sit far below BIGINT.
    *
    * Scale shape: identical to [[closenessOf]] — k·|V| state, frontier
    * equi-joins against the src-partitioned cached edge list, 2·depth
    * rounds; never a path enumeration. */
  private[graft] def stressOf(edges: DataFrame, nLm: Int,
      maxHops: Int): DataFrame = {
    // Round-17: both Brandes sweeps at the edge frame's materialized
    // width ([[loopParts]] — task-launch overhead fix).
    withLoopWidth(edges.sparkSession, loopParts(edges)) {
    val e = graft.Caches.persist(
      edges.select($"src", $"dst").repartition($"src"))
    // forward sweep: visited rows are (lm, id, d, sig)
    var visited = graft.Caches.localCheckpoint(landmarkSeeds(e, nLm)
      .select($"lm", $"id", lit(0L).as("d"), lit(1L).as("sig")))
    var frontier = visited
    var h = 1
    var n = frontier.count()
    while (n > 0 && h <= maxHops) {
      // aggregate BEFORE the visited anti-join: depth-h σ sums exactly the
      // depth-(h−1) frontier's σ along DAG edges; contributions landing on
      // already-visited (shallower) nodes drop out with the anti-join
      // Round-18: fused checkpoint+count — one job per hop.
      val (nf, nNf) = graft.Caches.localCheckpointCount(
        e.join(frontier.select($"lm", $"id".as("src"), $"sig"), "src")
          .groupBy($"lm", $"dst".as("id")).agg(sum($"sig").as("sig"))
          .join(visited.select($"lm", $"id"), Seq("lm", "id"), "left_anti")
          .select($"lm", $"id", lit(h.toLong).as("d"), $"sig"))
      n = nNf
      if (n > 0) visited = graft.Caches.localCheckpoint(visited.unionAll(nf))
      frontier = nf
      h += 1
    }
    // backward sweep: T at the deepest level is 0; each shallower level
    // sums (T+1) over same-source DAG successors
    val maxD = visited.agg(max($"d")).head.getLong(0)
    var tAcc = graft.Caches.localCheckpoint(
      visited.filter($"d" === maxD)
        .select($"lm", $"id", lit(maxD).as("d"), lit(0L).as("t")))
    var l = maxD - 1
    while (l >= 0) {
      val contrib = e
        .join(tAcc.filter($"d" === l + 1).select($"lm", $"id".as("dst"), $"t"),
          Seq("dst"))
        .select($"lm", $"src".as("id"), ($"t" + 1L).as("tc"))
      val next = graft.Caches.localCheckpoint(
        visited.filter($"d" === l).select($"lm", $"id")
          .join(contrib, Seq("lm", "id"), "left")
          .groupBy($"lm", $"id")
          .agg(coalesce(sum($"tc"), lit(0L)).as("t"))
          .select($"lm", $"id", lit(l).as("d"), $"t"))
      tAcc = graft.Caches.localCheckpoint(tAcc.unionAll(next))
      l -= 1
    }
    visited.filter($"d" > 0)
      .join(tAcc.select($"lm", $"id", $"t"), Seq("lm", "id"))
      .groupBy($"id")
      .agg(count(lit(1)).as("n_lm"), sum($"sig" * $"t").as("stress"))
      .select($"id".as("node"), $"n_lm", $"stress")
    }
  }

  /** The [[stressOf]] oracle: the closeness min-dist recursion feeds
    * [[StressMaxHops]] unrolled σ levels and as many backward T levels —
    * the [[kcore]] unroll technique, with every multi-referenced frame
    * MATERIALIZED and every sum cast back to BIGINT (DuckDB widens). */
  private def stressSql: String = {
    val sigs = (1 to StressMaxHops).map { l =>
      s"""sig$l AS MATERIALIZED (SELECT m.lm, m.id, CAST(sum(s.sig) AS BIGINT) AS sig
         |       FROM sig${l - 1} s JOIN und e ON e.src = s.id
         |       JOIN md m ON m.lm = s.lm AND m.id = e.dst AND m.d = $l
         |       GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val ts = (StressMaxHops - 1 to 0 by -1).map { l =>
      s"""t$l AS MATERIALIZED (SELECT m.lm, m.id,
         |       CAST(coalesce(sum(tw.t + 1), 0) AS BIGINT) AS t
         |       FROM md m LEFT JOIN und e ON e.src = m.id
         |       LEFT JOIN t${l + 1} tw ON tw.lm = m.lm AND tw.id = e.dst
         |       WHERE m.d = $l GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val sigAll = (0 to StressMaxHops).map(l => s"SELECT * FROM sig$l")
      .mkString(" UNION ALL ")
    val tAll = (0 to StressMaxHops).map(l => s"SELECT * FROM t$l")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $edgesSql,
       |und AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM pairs
       |       UNION ALL SELECT p2, p1 FROM pairs),
       |lm AS (SELECT id AS lm FROM (SELECT DISTINCT src AS id FROM und)
       |       ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT, id
       |       LIMIT $ClosenessLandmarks),
       |reach AS (SELECT lm, lm AS id, 0 AS d FROM lm
       |          UNION
       |          SELECT reach.lm, und.dst AS id, reach.d + 1
       |          FROM reach JOIN und ON und.src = reach.id
       |          WHERE reach.d < $StressMaxHops),
       |md AS MATERIALIZED (SELECT lm, id, min(d) AS d FROM reach GROUP BY 1, 2),
       |sig0 AS (SELECT lm, lm AS id, CAST(1 AS BIGINT) AS sig FROM lm),
       |$sigs,
       |t$StressMaxHops AS (SELECT lm, id, CAST(0 AS BIGINT) AS t FROM md WHERE d = $StressMaxHops),
       |$ts,
       |siga AS ($sigAll),
       |ta AS ($tAll)
       |SELECT s.id AS node, CAST(count(*) AS BIGINT) AS n_lm,
       |       CAST(sum(s.sig * ta.t) AS BIGINT) AS stress
       |FROM siga s JOIN ta ON ta.lm = s.lm AND ta.id = s.id
       |     JOIN md ON md.lm = s.lm AND md.id = s.id
       |WHERE md.d > 0
       |GROUP BY s.id ORDER BY node""".stripMargin
  }

  /** Landmark stress centrality over the mined co-occurrence graph —
    * which parts sit on the most shortest basket-affinity paths (the
    * broker/bottleneck readout [[closeness]] can't give: central-but-
    * peripheral-to-routes nodes score low here). */
  val stress: QueryDef = QueryDef("graph_stress", stressSql) { (spark, dir) =>
    val und = minedEdges(spark, dir)
    val edges = und.select($"p1".as("src"), $"p2".as("dst"))
      .unionAll(und.select($"p2".as("src"), $"p1".as("dst")))
    stressOf(edges, ClosenessLandmarks, StressMaxHops)
      .orderBy($"node")
  }

  /** Landmark closeness over the mined co-occurrence graph — which parts
    * sit centrally in the basket-affinity structure. */
  val closeness: QueryDef = QueryDef(
    "graph_closeness",
    s"""WITH RECURSIVE $edgesSql,
       |und AS (SELECT p1 AS src, p2 AS dst FROM pairs
       |        UNION ALL SELECT p2, p1 FROM pairs),
       |lm AS (SELECT id AS lm FROM (SELECT DISTINCT src AS id FROM und)
       |       ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT, id
       |       LIMIT $ClosenessLandmarks),
       |reach AS (SELECT lm, lm AS id, 0 AS d FROM lm
       |          UNION
       |          SELECT reach.lm, und.dst AS id, reach.d + 1
       |          FROM reach JOIN und ON und.src = reach.id
       |          WHERE reach.d < $ClosenessMaxHops),
       |md AS (SELECT lm, id, min(d) AS d FROM reach GROUP BY 1, 2)
       |SELECT id AS node, CAST(count(*) AS BIGINT) AS n_lm,
       |       CAST(sum(d) AS BIGINT) AS sum_d,
       |       CAST(CASE WHEN sum(d) > 0 THEN count(*) * 1000000 // sum(d)
       |            ELSE 0 END AS BIGINT) AS closeness_ppm
       |FROM md GROUP BY id ORDER BY node""".stripMargin,
  ) { (spark, dir) =>
    val und = minedEdges(spark, dir)
    val edges = und.select($"p1".as("src"), $"p2".as("dst"))
      .unionAll(und.select($"p2".as("src"), $"p1".as("dst")))
    closenessOf(edges, ClosenessLandmarks, ClosenessMaxHops)
      .orderBy($"node")
  }

  /** Condensation DAG of [[scc]] + longest-path depth: contract every
    * SCC to one supernode (edges = distinct cross-SCC pairs — acyclic by
    * construction), then per supernode its in/out degree in the DAG and
    * its DEPTH (the longest path, in edges, from any source SCC) — the
    * "how deep does part succession chain" readout, and the standard
    * scheduling/topology layer on top of an SCC decomposition
    * (Tarjan's condensation; depth = longest-path DP over the DAG).
    *
    * Computed by max-relaxation to fixpoint: `d(v) = max(d(u) + 1)` over
    * DAG in-edges, iterated — on a DAG the per-node max only grows and is
    * bounded by the depth, so `sum(d)` is strictly monotone and an
    * unchanged sum IS the fixpoint ([[sccOf]]'s coloring argument). A
    * cycle in the "DAG" (impossible unless the SCC partition were wrong)
    * would blow through [[MaxSccInner]] and THROW — the loud-failure
    * convention doubling as a structural self-check on [[sccOf]].
    *
    * Scale shape: the condensation frame is SCC-count-sized; each
    * relaxation round is one equi-join on the supernode key + a keyed
    * max — vertex-sized state, never path enumeration. The oracle
    * replays depth as a recursive CTE over the (quadratic, test-SF-only)
    * closure-derived SCC table. */
  val sccCondense: QueryDef = QueryDef(
    "graph_scc_condense",
    scc.oracle.get
      .replaceFirst("(?s)\nSELECT scc\\.id.*$", "") +
      """,
        |dag AS MATERIALIZED (
        |  SELECT DISTINCT a.scc_id AS s, b.scc_id AS t
        |  FROM e JOIN scc a ON a.id = e.src JOIN scc b ON b.id = e.dst
        |  WHERE a.scc_id <> b.scc_id),
        |lp AS (SELECT scc_id AS id, 0 AS d FROM sz
        |       UNION
        |       SELECT dag.t, lp.d + 1 FROM lp JOIN dag ON dag.s = lp.id),
        |dep AS (SELECT id, max(d) AS depth FROM lp GROUP BY id),
        |outd AS (SELECT s, count(*) AS c FROM dag GROUP BY s),
        |ind AS (SELECT t, count(*) AS c FROM dag GROUP BY t)
        |SELECT sz.scc_id, sz.n_members,
        |       CAST(coalesce(ind.c, 0) AS BIGINT) AS in_deg,
        |       CAST(coalesce(outd.c, 0) AS BIGINT) AS out_deg,
        |       CAST(dep.depth AS BIGINT) AS depth
        |FROM sz
        |LEFT JOIN outd ON outd.s = sz.scc_id
        |LEFT JOIN ind ON ind.t = sz.scc_id
        |JOIN dep ON dep.id = sz.scc_id
        |ORDER BY sz.scc_id""".stripMargin,
  ) { (spark, dir) =>
    sccCondenseOf(brandSuccessorEdges(
      Tables.lineitem(spark, dir), Tables.part(spark, dir)),
      Some(sharedScc(spark, dir)))
  }

  /** [[sccCondense]] over any directed (src, dst) edge list — fixture
    * seam. `sccs0` lets the registry lane pass the [[sharedScc]] frame so
    * the partition is not recomputed; fixtures omit it and pay the local
    * [[sccOf]]. */
  private[graft] def sccCondenseOf(edges0: DataFrame,
      sccs0: Option[DataFrame] = None): DataFrame = {
    import graft.Caches.{localCheckpoint, persist}
    val e = persist(edges0.select($"src", $"dst").distinct())
    val sccs = sccs0.getOrElse(persist(sccOf(e)))
    val dag = persist(
      e.join(sccs.select($"node".as("src"), $"scc_id".as("sa")), "src")
        .join(sccs.select($"node".as("dst"), $"scc_id".as("sb")), "dst")
        .filter($"sa" =!= $"sb")
        .select($"sa".as("csrc"), $"sb".as("cdst")).distinct()
        .repartition($"csrc"))
    val comps = sccs.groupBy($"scc_id").agg(max($"n_members").as("n_members"))
    var d = localCheckpoint(comps.select($"scc_id".as("id"), lit(0L).as("d")))
    var dSum = 0L
    var stable = false
    var r = 0
    import graft.Caches.localCheckpointCountSum
    // Round-17: depth-relaxation rounds at the SCC frame's materialized
    // width (the shared memo leaf when the registry passes it; fixture
    // paths plan lazily at session width — the no-op case).
    withLoopWidth(edges0.sparkSession, loopParts(sccs)) {
    while (!stable && r < MaxSccInner) {
      // Round-18: fused checkpoint+sum — one job per relaxation round.
      val (next, _, nSum) = localCheckpointCountSum(
        d.unionAll(
          dag.join(d.select($"id".as("id_"), $"d"), $"csrc" === $"id_")
            .select($"cdst".as("id"), ($"d" + 1L).as("d")))
          .groupBy($"id").agg(max($"d").as("d")), "d")
      stable = nSum == dSum
      d = next
      dSum = nSum
      r += 1
    }
    }
    if (!stable) throw new IllegalStateException(
      s"sccCondenseOf depth relaxation did not stabilize in $MaxSccInner " +
        "rounds — the condensation is not acyclic (sccOf invariant broken)")
    val outd = dag.groupBy($"csrc").agg(count(lit(1)).as("out_deg"))
    val ind = dag.groupBy($"cdst").agg(count(lit(1)).as("in_deg"))
    comps
      .join(ind.select($"cdst".as("scc_id"), $"in_deg"), Seq("scc_id"), "left")
      .join(outd.select($"csrc".as("scc_id"), $"out_deg"), Seq("scc_id"), "left")
      .join(d.select($"id".as("scc_id"), $"d".as("depth")), "scc_id")
      .select($"scc_id", $"n_members",
        coalesce($"in_deg", lit(0L)).as("in_deg"),
        coalesce($"out_deg", lit(0L)).as("out_deg"),
        $"depth")
      .orderBy($"scc_id")
  }

  // ------------------------------------------------- densest subgraph

  /** Oracle unroll for [[densest]] — peel exhausts sf0.01's mined graph
    * in far fewer rounds (the spec asserts slack); rounds past exhaustion
    * contribute n_nodes = 0 rows the final filter drops, so any unroll ≥
    * the actual depth replays the Spark loop exactly (the [[kcoreCtes]]
    * soundness argument). */
  private val DensestOracleRounds = 24

  /** Densest-subgraph peeling readout — Charikar's greedy 2-approximation
    * parallelized as Bahmani, Kumar & Vassilvitskii (2012): each round
    * removes EVERY node whose degree is ≤ (1+ε)·(m/n)·2 with ε = 1/2,
    * i.e. keep iff deg·n > 3m in EXACT INTEGERS (engine-identical, no
    * float density crosses the engines), which shrinks the active set by
    * ≥ 1/3 per round ⇒ O(log n) rounds. Per surviving round one readout
    * row (round, n_nodes, n_edges, density_ppm = ⌊10⁶·m/n⌋) plus an
    * `is_best` flag on the max-density round (ties to the earliest): that
    * round's active set is the (2+2ε)-approximate densest subgraph — the
    * "find the pathological hot community before it melts a shuffle"
    * diagnostic next to [[kcore]]'s fixed-threshold peel.
    *
    * Scale shape: each round is one degree aggregation + two semi-joins
    * on the shrinking edge set ([[kcoreOf]]'s audited peel shape), round
    * count logarithmic in the vertex count; the density rule consumes the
    * (n, m) scalars as a broadcast 1-row frame, never a driver literal in
    * the plan. */
  val densest: QueryDef = QueryDef(
    "graph_densest",
    {
      val rounds = (0 until DensestOracleRounds).map { r =>
        s"""pd$r AS (SELECT u, count(*) AS dg
           |        FROM (SELECT p1 AS u FROM pe$r UNION ALL SELECT p2 FROM pe$r)
           |        GROUP BY 1),
           |ps$r AS (SELECT CAST($r AS BIGINT) AS round,
           |                (SELECT count(*) FROM pd$r) AS n_nodes,
           |                (SELECT count(*) FROM pe$r) AS m),
           |pe${r + 1} AS MATERIALIZED (
           |  SELECT e.p1, e.p2 FROM pe$r e
           |  JOIN pd$r x ON x.u = e.p1 JOIN pd$r y ON y.u = e.p2
           |  WHERE x.dg * (SELECT n_nodes FROM ps$r) > 3 * (SELECT m FROM ps$r)
           |    AND y.dg * (SELECT n_nodes FROM ps$r) > 3 * (SELECT m FROM ps$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesSql,
         |pe0 AS MATERIALIZED (SELECT p1, p2 FROM pairs),
         |$rounds,
         |allr AS (${(0 until DensestOracleRounds).map(r => s"SELECT * FROM ps$r").mkString(" UNION ALL ")}),
         |nz AS (SELECT round, n_nodes, m AS n_edges,
         |              m * 1000000 // n_nodes AS density_ppm
         |       FROM allr WHERE n_nodes > 0),
         |bb AS (SELECT max(density_ppm) AS bd FROM nz),
         |bfr AS (SELECT min(round) AS br FROM nz WHERE density_ppm = (SELECT bd FROM bb))
         |SELECT round, n_nodes, n_edges, CAST(density_ppm AS BIGINT) AS density_ppm,
         |       CAST(CASE WHEN round = (SELECT br FROM bfr) THEN 1 ELSE 0 END AS BIGINT) AS is_best
         |FROM nz ORDER BY round""".stripMargin
    },
  ) { (spark, dir) => densestOf(minedEdges(spark, dir)) }

  /** [[densest]] over any canonical (p1 < p2) edge list — fixture seam. */
  private[graft] def densestOf(edges: DataFrame): DataFrame = {
    import graft.Caches.localCheckpoint
    var e = localCheckpoint(edges.select($"p1", $"p2"))
    var out: Option[DataFrame] = None
    var live = true
    var r = 0
    // Round-17: peel rounds at the checkpointed edge leaf's materialized
    // width ([[loopParts]] — task-launch overhead; values unchanged).
    withLoopWidth(edges.sparkSession, loopParts(e)) {
    while (live && r < MaxPeelRounds) {
      val deg = localCheckpoint(
        e.select($"p1".as("u")).unionAll(e.select($"p2".as("u")))
          .groupBy($"u").agg(count(lit(1)).as("dg")))
      val st = localCheckpoint(
        deg.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(e.agg(count(lit(1)).as("m")))
          .select(lit(r.toLong).as("round"), $"n_nodes", $"m"))
      // 1-row loop-guard read (the kcoreOf convention); the peel rule
      // itself consumes the scalars via the broadcast frame below
      if (st.head().getLong(1) == 0L) live = false
      else {
        out = Some(out.map(_.unionAll(st)).getOrElse(st))
        val keep = deg.crossJoin(broadcast(st))
          .filter($"dg" * $"n_nodes" > lit(3L) * $"m")
          .select($"u")
        e = localCheckpoint(
          e.join(keep.select($"u".as("p1")), Seq("p1"), "left_semi")
            .join(keep.select($"u".as("p2")), Seq("p2"), "left_semi")
            .select($"p1", $"p2"))
        r += 1
      }
    }
    }
    if (live)
      throw new IllegalStateException(
        s"densestOf did not exhaust the graph after $MaxPeelRounds peeling " +
          "rounds — refusing to emit a truncated readout")
    val rows = out.getOrElse(
      e.agg(count(lit(1)).as("m"))
        .select(lit(0L).as("round"), lit(0L).as("n_nodes"), $"m").limit(0))
    val dens = rows.select($"round", $"n_nodes", $"m".as("n_edges"),
      expr("(m * 1000000) DIV n_nodes").as("density_ppm"))
    val best = dens.agg(max($"density_ppm").as("bd"))
    val bestRound = dens.join(broadcast(best), $"density_ppm" === $"bd")
      .agg(min($"round").as("br"))
    dens.crossJoin(broadcast(bestRound))
      .select($"round", $"n_nodes", $"n_edges", $"density_ppm",
        when($"round" === $"br", 1L).otherwise(0L).as("is_best"))
      .orderBy($"round")
  }

  // ------------------------------------------------ diameter double sweep

  /** Diameter LOWER BOUND by the classic double sweep (Magnien, Latapy &
    * Habib 2009): BFS from a deterministic start (min node id), BFS again
    * from the farthest node found (ties to the smaller id) — the second
    * eccentricity bounds the diameter from below and is exact on trees,
    * at two BFS's cost where the exact diameter needs all-pairs. The
    * "how many hops wide is this graph REALLY" planning readout (hop-cap
    * sizing for the BFS/closeness lanes is exactly this number).
    *
    * Scale shape: two frontier-join BFS passes over the src-partitioned
    * edge list ([[closenessOf]]'s audited shape), vertex-sized visited
    * state, hop-capped at [[ClosenessMaxHops]] on both engines. */
  val diameter: QueryDef = QueryDef(
    "graph_diameter",
    s"""WITH RECURSIVE $edgesSql,
       |und AS (SELECT p1 AS src, p2 AS dst FROM pairs
       |        UNION ALL SELECT p2, p1 FROM pairs),
       |s0 AS (SELECT min(src) AS id FROM und),
       |r1 AS (SELECT id, 0 AS d FROM s0
       |       UNION
       |       SELECT und.dst, r1.d + 1 FROM r1 JOIN und ON und.src = r1.id
       |       WHERE r1.d < $ClosenessMaxHops),
       |m1 AS (SELECT id, min(d) AS d FROM r1 GROUP BY id),
       |f1 AS (SELECT min(id) AS id, max(d) AS d FROM m1
       |       WHERE d = (SELECT max(d) FROM m1)),
       |r2 AS (SELECT id, 0 AS d FROM (SELECT id FROM f1)
       |       UNION
       |       SELECT und.dst, r2.d + 1 FROM r2 JOIN und ON und.src = r2.id
       |       WHERE r2.d < $ClosenessMaxHops),
       |m2 AS (SELECT id, min(d) AS d FROM r2 GROUP BY id),
       |f2 AS (SELECT min(id) AS id, max(d) AS d FROM m2
       |       WHERE d = (SELECT max(d) FROM m2))
       |SELECT CAST((SELECT id FROM s0) AS BIGINT) AS start_node,
       |       CAST((SELECT id FROM f1) AS BIGINT) AS sweep1_node,
       |       CAST((SELECT d FROM f1) AS BIGINT) AS sweep1_ecc,
       |       CAST((SELECT id FROM f2) AS BIGINT) AS sweep2_node,
       |       CAST((SELECT d FROM f2) AS BIGINT) AS diameter_lb""".stripMargin,
  ) { (spark, dir) =>
    val und = minedEdges(spark, dir)
    diameterOf(und.select($"p1".as("src"), $"p2".as("dst"))
      .unionAll(und.select($"p2".as("src"), $"p1".as("dst"))))
  }

  /** [[diameter]] over any directed (src, dst) edge list — fixture seam. */
  private[graft] def diameterOf(edges: DataFrame): DataFrame = {
    val start = edges.agg(min($"src").as("id"))
    // the farthest node (ties to the smaller id) of a BFS from `seed`
    def far(seed: DataFrame): DataFrame = {
      val v = bfsOf(edges, seed.select($"id".as("lm"), $"id"), ClosenessMaxHops)
      val mx = v.agg(max($"d").as("md"))
      v.join(broadcast(mx), $"d" === $"md")
        .agg(min($"id").as("fid"), min($"d").as("fd"))
    }
    val f1 = far(start)
    val f2 = far(f1.select($"fid".as("id")))
    start.select($"id".as("start_node"))
      .crossJoin(broadcast(f1.select($"fid".as("sweep1_node"),
        $"fd".as("sweep1_ecc"))))
      .crossJoin(broadcast(f2.select($"fid".as("sweep2_node"),
        $"fd".as("diameter_lb"))))
  }

  // ------------------------------------------------ coreness (h-index)

  /** Oracle unroll for [[coreness]] — the h-index iteration reaches its
    * fixpoint on sf0.01's mined graph in single-digit rounds
    * (spec-asserted slack); rounds past the fixpoint are exact no-ops
    * because the operator is monotone and idempotent at the fixpoint. */
  private val CorenessOracleRounds = 16

  /** FULL k-core decomposition — every node's CORENESS (the largest k
    * whose k-core contains it), not just membership at one fixed k like
    * [[kcore]]. Computed by the h-index iteration of Lü, Zhou, Zhang &
    * Stanley 2016: start from c₀ = degree and repeat c(v) ← H-index of
    * the neighbors' current values (the largest h with ≥ h neighbors at
    * ≥ h); the sequence is non-increasing and converges exactly to the
    * coreness. All-integer, synchronous, order-free — which is what
    * makes it engine-replayable where the classic sequential peel
    * (degeneracy ordering) is not. Coreness is the standard graph
    * summary for "how deep in a dense region does this node sit"
    * (influence estimation, community cores, graph sparsification).
    *
    * Scale shape: per round one equi-join of the edge list against the
    * vertex-sized value frame plus a PARTITIONED window (per-src rank of
    * neighbor values) and a keyed max — no global ordering anywhere;
    * round count is bounded by the coreness range and observed
    * single-digit. The fixpoint guard is a 1-row strictly-monotone sum
    * read (the [[sccOf]] convention). */
  val coreness: QueryDef = QueryDef(
    "graph_coreness",
    {
      val rounds = (1 to CorenessOracleRounds).map { r =>
        s"""hc$r AS MATERIALIZED (
           |  SELECT src AS node, max(least(rk, c)) AS c
           |  FROM (SELECT e.src, n.c,
           |               row_number() OVER (PARTITION BY e.src
           |                                  ORDER BY n.c DESC, e.dst) AS rk
           |        FROM hue e JOIN hc${r - 1} n ON n.node = e.dst)
           |  GROUP BY src)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesSql,
         |hue AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM pairs
         |        UNION ALL SELECT p2, p1 FROM pairs),
         |hc0 AS MATERIALIZED (SELECT src AS node, count(*) AS c
         |        FROM hue GROUP BY 1),
         |$rounds
         |SELECT f.node, CAST(f.c AS BIGINT) AS coreness,
         |       CAST(d.c AS BIGINT) AS degree
         |FROM hc$CorenessOracleRounds f JOIN hc0 d ON d.node = f.node
         |ORDER BY f.node""".stripMargin
    },
  ) { (spark, dir) => corenessOf(minedEdges(spark, dir)) }

  /** [[coreness]] over any canonical (p1 < p2) edge list — fixture seam. */
  private[graft] def corenessOf(edges: DataFrame): DataFrame = {
    import graft.Caches.localCheckpoint
    val und = localCheckpoint(
      edges.select($"p1".as("src"), $"p2".as("dst"))
        .unionAll(edges.select($"p2".as("src"), $"p1".as("dst"))))
    val deg = localCheckpoint(
      und.groupBy($"src").agg(count(lit(1)).as("c"))
        .select($"src".as("node"), $"c"))
    var c = deg
    // Σc strictly decreases every non-fixpoint round (values are
    // non-increasing and bounded below by coreness), so an unchanged sum
    // IS the fixpoint — the sccOf monotone-guard argument
    // coalesce: on an EMPTY edge frame (fixture seam; registry inputs are
    // never empty) sum(c) is NULL and a bare getLong would NPE — read 0,
    // which equals the next round's 0 and exits at the fixpoint with an
    // empty readout (round-14 ADVICE)
    def cSum(df: DataFrame): Long = df
      .agg(coalesce(org.apache.spark.sql.functions.sum($"c"), lit(0L)))
      .head.getLong(0)
    var prevSum = -1L
    var sum = cSum(c)
    var r = 0
    // Round-17: h-index rounds at the checkpointed undirected leaf's
    // materialized width ([[loopParts]] — task-launch overhead fix).
    withLoopWidth(edges.sparkSession, loopParts(und)) {
    while (sum != prevSum && r < MaxPeelRounds) {
      val next = localCheckpoint(
        und.join(c.select($"node".as("dst"), $"c"), "dst")
          .withColumn("rk", row_number().over(
            Window.partitionBy($"src").orderBy($"c".desc, $"dst")).cast("long"))
          .groupBy($"src").agg(max(least($"rk", $"c")).as("c"))
          .select($"src".as("node"), $"c"))
      prevSum = sum
      sum = cSum(next)
      require(sum <= prevSum,
        s"h-index iteration must be non-increasing ($prevSum -> $sum)")
      c = next
      r += 1
    }
    }
    if (sum != prevSum)
      throw new IllegalStateException(
        s"corenessOf did not reach its fixpoint after $MaxPeelRounds rounds")
    c.join(deg.select($"node", $"c".as("degree")), "node")
      .select($"node", $"c".as("coreness"), $"degree")
      .orderBy($"node")
  }

  // -------------------------------------------- maximal independent set

  /** Oracle unroll for [[mis]] — the local-minimum peel empties sf0.01's
    * mined graph in single-digit rounds (spec-asserted slack); empty
    * rounds are no-ops. */
  private val MisOracleRounds = 16

  /** Maximal independent set by deterministic Luby-style symmetry
    * breaking (Luby 1986, derandomized with a STATIC priority: the
    * md5 portable hash of the node id, ties to the smaller id): each
    * round selects every active node whose priority beats all its active
    * neighbors — the local minima, at least one of which always exists,
    * so every round makes progress — then removes the selected nodes AND
    * their neighbors. With a static priority the synchronous rounds
    * compute exactly the SEQUENTIAL greedy MIS of the hash order, so the
    * output is a unique well-defined set (round structure invisible),
    * which is what makes it engine-replayable. MIS is the classic
    * symmetry-breaking primitive (scheduling conflict-free work,
    * picking cluster exemplars, graph coloring's inner step).
    *
    * Scale shape: per round one neighbor-priority join + two anti-joins
    * on the shrinking active set, O(log n) rounds with a well-mixed
    * priority ([[kcoreOf]]'s audited peel shape); state is vertex-sized
    * throughout. */
  val mis: QueryDef = QueryDef(
    "graph_mis",
    {
      val rounds = (0 until MisOracleRounds).map { r =>
        s"""mb$r AS (SELECT e.src AS v, count(*) AS better
           |        FROM me$r e
           |        JOIN ma$r a ON a.node = e.dst
           |        JOIN ma$r s ON s.node = e.src
           |        WHERE a.h < s.h OR (a.h = s.h AND e.dst < e.src)
           |        GROUP BY 1),
           |ms$r AS (SELECT a.node FROM ma$r a
           |        LEFT JOIN mb$r b ON b.v = a.node
           |        WHERE coalesce(b.better, 0) = 0),
           |mr$r AS (SELECT node FROM ms$r
           |        UNION SELECT e.dst FROM me$r e JOIN ms$r s ON s.node = e.src),
           |ma${r + 1} AS MATERIALIZED (
           |  SELECT * FROM ma$r WHERE node NOT IN (SELECT node FROM mr$r)),
           |me${r + 1} AS MATERIALIZED (
           |  SELECT e.* FROM me$r e
           |  JOIN ma${r + 1} x ON x.node = e.src
           |  JOIN ma${r + 1} y ON y.node = e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesSql,
         |ma0 AS MATERIALIZED (
         |  SELECT id AS node, ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM (SELECT DISTINCT p1 AS id FROM pairs
         |        UNION SELECT DISTINCT p2 FROM pairs)),
         |me0 AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM pairs
         |        UNION ALL SELECT p2, p1 FROM pairs),
         |$rounds,
         |mis AS (${(0 until MisOracleRounds).map(r => s"SELECT node FROM ms$r").mkString(" UNION ALL ")})
         |SELECT a.node,
         |       CAST(CASE WHEN m.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_mis
         |FROM ma0 a LEFT JOIN mis m ON m.node = a.node
         |ORDER BY a.node""".stripMargin
    },
  ) { (spark, dir) => misOf(minedEdges(spark, dir)) }

  /** [[mis]] over any canonical (p1 < p2) edge list — fixture seam. */
  private[graft] def misOf(edges: DataFrame): DataFrame = {
    import graft.Caches.localCheckpoint
    val allNodes = localCheckpoint(
      edges.select($"p1".as("id")).union(edges.select($"p2".as("id")))
        .distinct()
        .select($"id".as("node"),
          call_function("md5hash60", $"id".cast("string")).as("h")))
    var act = allNodes
    var und = localCheckpoint(
      edges.select($"p1".as("src"), $"p2".as("dst"))
        .unionAll(edges.select($"p2".as("src"), $"p1".as("dst"))))
    var mis: Option[DataFrame] = None
    var live = true
    var r = 0
    // Round-17: symmetry-breaking rounds at the checkpointed undirected
    // leaf's materialized width ([[loopParts]] — task-launch overhead).
    withLoopWidth(edges.sparkSession, loopParts(und)) {
    // Round-18: nAct tracks the active count from the fused checkpoint
    // below — the per-round isEmpty probe job is gone ([-1] = unknown on
    // entry: allNodes was checkpointed without a count, probe once).
    var nAct = -1L
    while (live && r < MaxPeelRounds) {
      if (nAct == -1L) nAct = if (act.isEmpty) 0L else 1L
      if (nAct == 0L) live = false
      else {
        // active neighbors with strictly better (h, id) priority
        val better = und
          .join(act.select($"node".as("dst"), $"h".as("hd")), "dst")
          .join(act.select($"node".as("src"), $"h".as("hs")), "src")
          .filter($"hd" < $"hs" || ($"hd" === $"hs" && $"dst" < $"src"))
          .select($"src".as("node")).distinct()
        val sel = localCheckpoint(
          act.join(better, Seq("node"), "left_anti").select($"node"))
        mis = Some(mis.map(_.unionAll(sel)).getOrElse(sel))
        val removed = sel
          .unionAll(und.join(sel.select($"node".as("src")), Seq("src"),
            "left_semi").select($"dst".as("node")))
          .distinct()
        val (act2, nAct2) = graft.Caches.localCheckpointCount(
          act.join(removed, Seq("node"), "left_anti"))
        act = act2
        nAct = nAct2
        und = localCheckpoint(
          und.join(act.select($"node".as("src")), Seq("src"), "left_semi")
            .join(act.select($"node".as("dst")), Seq("dst"), "left_semi")
            .select($"src", $"dst"))
        r += 1
      }
    }
    }
    if (live)
      throw new IllegalStateException(
        s"misOf did not exhaust the graph after $MaxPeelRounds rounds — " +
          "refusing to emit a non-maximal set")
    val m = mis.getOrElse(allNodes.select($"node").limit(0))
    allNodes.join(m.select($"node", lit(1L).as("in_mis")), Seq("node"), "left")
      .select($"node", coalesce($"in_mis", lit(0L)).as("in_mis"))
      .orderBy($"node")
  }

  val all: Seq[QueryDef] =
    Seq(triangles, degreeDist, pageRank, personalizedPageRank, bfsLevels,
      adamicAdar, adamicAdarCapped, clusterCoeff, components, kcore, ktruss,
      labelProp, modularity, hits, jaccardLinks, treeRollup, randomWalks,
      assortativity, sssp, louvainPass, louvainFull, louvainCoarsen,
      louvainMultilevel, scc, sccCondense, closeness, stress, densest,
      harmonic, mis, coreness, diameter)
}
