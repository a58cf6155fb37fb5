package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("k-core peeling: triangle survives k=2, tail peels off, cascade resolves") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // triangle 1-2-3 plus a chain 3-4-5: at k=2 the chain must peel in
    // CASCADE (5 first, then 4 — degree only drops below 2 after its
    // neighbor goes), leaving exactly the triangle with in-core degree 2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("p1", "p2")
    val rows = GraphOps.kcoreOf(edges, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(Seq(1L, 2L, 3L).forall(rows(_) == ((1L, 2L))),
      s"triangle must survive with degree 2: $rows")
    assert(Seq(4L, 5L).forall(rows(_) == ((0L, 0L))),
      s"tail must peel off: $rows")
  }

  test("k-core peeling refuses to stop early on an adversarially deep peel") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // a 140-node path needs ~70 parallel rounds at k=2 (both endpoints
    // peel per round) — past MaxPeelRounds, so the loop must THROW rather
    // than return the partially-peeled superset of the (empty) core
    val path = (0L until 139L).map(i => (i, i + 1)).toDF("p1", "p2")
    val ex = intercept[IllegalStateException](GraphOps.kcoreOf(path, 2).collect())
    assert(ex.getMessage.contains("peeling rounds"))
  }

  test("k-truss peeling: 4-clique survives k=4, weak triangles cascade away") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // K4 on {1,2,3,4} (every edge in 2 triangles) + triangle {4,5,6} +
    // triangle {5,6,8} + pendant (6,7). At k=4 (support >= 2): round 1
    // deletes the support-1 edges (4,5),(4,6),(5,8),(6,8) and (6,7);
    // (5,6) started at support 2 but loses BOTH its triangles — the
    // CASCADE must remove it in round 2, leaving exactly the K4.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (5L, 8L), (6L, 8L),
      (6L, 7L))).toDF("p1", "p2")
    val rows = GraphOps.ktrussOf(edges, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.size == 12, "every original edge reported")
    assert(k4.forall(rows(_) == ((1L, 2L))),
      s"K4 edges survive with support 2: $rows")
    assert((rows.keySet -- k4).forall(rows(_) == ((0L, 0L))),
      s"all non-clique edges cascade out: $rows")
  }

  test("cooccur edges: support threshold, canonical orientation, set semantics") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // orders 1,2 share {10,20}; order 3 adds (10,30) once (below support);
    // order 4 repeats part 10 twice (set semantics: no self-pair, one count)
    val li = Seq(
      (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L), (4L, 10L), (4L, 10L), (4L, 20L),
    ).toDF("l_orderkey", "l_partkey")
    val e = GraphOps.cooccurEdges(li).collect()
    assert(e.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((10L, 20L, 3L)))
  }

  test("triangles: enumerated once in a<b<c orientation") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // parts 1,2,3 pairwise co-occur in >=2 orders => one triangle; part 4
    // reaches support 2 with part 1 but co-occurs with part 2 only once,
    // so (1,2,4) must NOT close
    def basket(o: Long, ps: Long*) = ps.map((o, _))
    val li = (basket(1, 1, 2, 3) ++ basket(2, 1, 2, 3) ++
      basket(3, 1, 4) ++ basket(4, 1, 2, 4))
      .toDF("l_orderkey", "l_partkey")
    val tri = GraphOps.trianglesOf(GraphOps.cooccurEdges(li)).collect()
    assert(tri.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 3L)))
  }

  test("degree distribution sums nodes and counts both endpoints") {
    val e = GraphOps.cooccurEdges(io.Tables.lineitem(spark, sf))
    val nEdges = e.count()
    val dist = GraphOps.degreeDist.run(spark, sf).collect()
    // sum(degree * n_nodes) = 2 * |E| (handshake lemma)
    assert(dist.map(r => r.getLong(0) * r.getLong(1)).sum == 2 * nEdges)
  }

  test("pagerank: hub dominance, rank conservation, bit-stable reruns") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // star graph: node 0 connects to 1..8; undirected -> both orientations
    val und = (1L to 8L).map(i => (0L, i))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = GraphOps.pageRankOf(edges, 15).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r(0L) > r(1L) * 3, s"hub must dominate spokes: $r")
    assert((1L to 8L).map(r).distinct.size == 1, "spokes symmetric")
    // with no dangling nodes total rank stays ~n (damping redistributes)
    assert(math.abs(r.values.sum - 9.0) < 0.01)
    // quantized contributions -> rerun is bit-identical
    val r2 = GraphOps.pageRankOf(edges, 15).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r == r2, "pagerank must be deterministic")
  }

  test("pagerank: directed sink nodes are ranked and their mass redistributed") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // chain 1 -> 2 -> 3 plus 4 -> 3: nodes 3 is a pure sink (only a dst),
    // node 4 a pure source. Sink must appear in the output with the top
    // rank, and total mass must be conserved (dangling redistribution) —
    // without it the chain leaks 3's rank every round.
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val r = GraphOps.pageRankOf(edges, 20).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L), s"sink node must be ranked: $r")
    assert(math.abs(r.values.sum - 4.0) < 0.01,
      s"dangling mass must be redistributed, not dropped: $r")
    assert(r(3L) > r(2L) && r(2L) > r(1L), s"rank must flow along the chain: $r")
    val r2 = GraphOps.pageRankOf(edges, 20).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r == r2, "dangling-path pagerank must be deterministic")
  }

  test("personalized pagerank: directed sink nodes are ranked, mass returns to the seeds") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // the sink chain above (1 -> 2 -> 3, 4 -> 3) seeded at the two
    // smallest ids {1, 2}: the sink 3 collects rank, and its mass goes
    // back along the teleport vector (to the seeds) every round, so the
    // total stays at the seed count instead of leaking away
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val r = GraphOps.pageRankOf(edges, 20, Some(2)).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L), s"sink node must be ranked: $r")
    assert(r(3L) > 0.0, s"the sink must collect rank: $r")
    assert(r(4L) == 0.0, s"a non-seed source is unreachable: $r")
    assert(math.abs(r.values.sum - 2.0) < 0.01,
      s"total mass must equal the seed count: $r")
    val r2 = GraphOps.pageRankOf(edges, 20, Some(2)).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r == r2, "dangling-path PPR must be deterministic")
  }

  test("bfs levels: hop distances, visited exclusion, unreachable components") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // chain 1-2-3-4-5 plus a cycle edge 2-4 (shortcut) and a disconnected
    // component {10,11}; source = min id = 1. Shortest hops: 2→1, 3→2,
    // 4→2 (via the shortcut, NOT 3), 5→3; 10/11 unreachable -> absent.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 4L), (10L, 11L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.bfsLevelsOf(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L),
      s"shortest hop distances must win: $out")
  }

  test("adamic-adar: non-adjacent pairs only, hub-degree discounting") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // path 1-2-3 plus hub 4 connected to {1,3,5}: pair (1,3) shares TWO
    // neighbors (2 with deg 2, 4 with deg 3) -> 1/ln2 + 1/ln3; (1,5)/(3,5)
    // share only hub 4 -> 1/ln3; (2,4) shares deg-2 nodes 1 and 3 -> 2/ln2;
    // adjacent pairs like (1,2) and no-shared-neighbor pairs like (2,5)
    // must NOT appear.
    val e = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L), (4L, 5L))
      .toDF("p1", "p2")
    val out = GraphOps.adamicAdarOf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def q(x: Double) = math.round(x * 1e6) / 1e6
    assert(out.keySet == Set((1L, 3L), (1L, 5L), (3L, 5L), (2L, 4L)),
      s"exactly the non-adjacent shared-neighbor pairs: $out")
    assert(math.abs(out((1L, 3L)) - q(1 / math.log(2) + 1 / math.log(3))) < 2e-6)
    assert(math.abs(out((2L, 4L)) - q(2 / math.log(2))) < 2e-6)
    assert(math.abs(out((1L, 5L)) - q(1 / math.log(3))) < 2e-6)
  }

  test("adamic-adar hub cap: celebrity hub's wedges bounded, truncation reported") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // celebrity hub 100 with 20 spokes 1..20 (each spoke degree 1):
    // uncapped wedge volume through the hub is C(20,2)=190; with cap=5 the
    // hub's neighbor list truncates to {1..5} -> exactly C(5,2)=10 wedges,
    // every score = 1/ln(20) (TRUE hub degree, not the capped list size),
    // and the artifact must admit one hub was truncated.
    val e = (1L to 20L).map(i => (i, 100L)).toDF("p1", "p2")
    val capped = GraphOps.adamicAdarCappedOf(e, 5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2), r.getLong(3)))
    val pairs = capped.map(_._1).toSet
    assert(pairs == (for { a <- 1L to 5L; c <- a + 1 to 5L } yield (a, c)).toSet,
      s"cap=5 must keep exactly the 10 smallest-id wedges: $pairs")
    val expected = math.round(1.0 / math.log(20) * 1e6) / 1e6
    assert(capped.forall(t => math.abs(t._2 - expected) < 1e-9),
      s"scores must weight by the hub's TRUE degree 20: $capped")
    assert(capped.forall(_._3 == 1L), "exactly one truncated hub reported")
    graft.Caches.release()

    // cap above every degree: identical pairs+scores to the uncapped plan,
    // and the truncation column is an honest zero
    val e2 = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L), (4L, 5L))
      .toDF("p1", "p2")
    val loose = GraphOps.adamicAdarCappedOf(e2, 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2), r.getLong(3)))
    val exact = GraphOps.adamicAdarOf(e2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(loose.map(t => (t._1, t._2)).toSeq == exact.toSeq,
      "an unexercised cap must be a no-op on pairs and scores")
    assert(loose.forall(_._3 == 0L), "no truncation -> n_capped_hubs = 0")
    graft.Caches.release()
  }

  test("components: sizes partition the mined node set, largest first") {
    val e = GraphOps.cooccurEdges(io.Tables.lineitem(spark, sf))
    val nNodes = e.select($"p1").union(e.select($"p2")).distinct().count()
    val out = GraphOps.components.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.Caches.release()
    assert(out.map(_._2).sum == nNodes, "component sizes must partition the nodes")
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq, "largest first")
    // every component id is the minimum member, so ids are distinct
    assert(out.map(_._1).distinct.length == out.length)
  }

  test("clustering coefficient: triangle credit per corner, degree-1 excluded") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // triangles {1,2,3} and {1,3,4}; node 5 hangs off 4 (deg 1 -> excluded).
    // cc(1)=2·2/(3·2)=2/3, cc(2)=2·1/(2·1)=1, cc(3)=2/3, cc(4)=2·1/(3·2)=1/3
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (3L, 4L), (4L, 5L))
      .toDF("p1", "p2")
    val out = GraphOps.clusterCoeffOf(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), s"deg-1 node 5 must be excluded: $out")
    assert(out(1L) == ((3L, 2L, 0.666667)))
    assert(out(2L) == ((2L, 1L, 1.0)))
    assert(out(3L) == ((3L, 2L, 0.666667)))
    assert(out(4L) == ((3L, 1L, 0.333333)))
  }

  test("mad outliers: extreme values don't poison the threshold") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // 99 values near 10, one at 10000: median/MAD flags exactly the one
    // extreme row, while a mean/stddev (z-score) threshold would be dragged
    // by the outlier itself. Calls the registered query's real plan builder.
    val vals = (1 to 99).map(i => ("a", 10.0 + (i % 5) * 0.1)) :+ (("a", 10000.0))
    val out = StatsOps.madOutliersOf(vals.toDF("event_type", "value"))
      .collect().head
    assert(out.getLong(2) == 1L, s"exactly the planted outlier: $out")
    assert(out.getLong(1) == 100L)
  }

  test("rolling 7-day distinct counts each user once per window") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    import org.apache.spark.sql.functions._
    // user 1 active on days 1 and 3 (must count once in any window holding
    // both); user 2 only on day 1 (ages out of the day-8 window). Calls the
    // registered query's real plan builder.
    val events = Seq((1L, "2024-01-01"), (1L, "2024-01-03"), (2L, "2024-01-01"),
      (3L, "2024-01-08"))
      .toDF("user_id", "day_s")
      .select(col("user_id"), to_timestamp(col("day_s")).as("ts"))
    val out = TimeSeriesOps.rollingDistinctOf(events)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("2024-01-01") == 2L) // users 1,2
    assert(out("2024-01-03") == 2L) // user 1 once (two active days), user 2
    assert(out("2024-01-08") == 2L) // user 1 (day 3) + user 3; user 2 aged out
  }

  test("pattern match: tie-broken ordering and no-error constraint") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    import org.apache.spark.sql.functions._
    // user 1: v..c..p clean -> match; user 2: error between c and p -> no
    // match; user 3: same-microsecond tie ordered by event_id (view before
    // click at t=5) -> still matches. Calls the registered query's real
    // plan builder with its shipped pattern.
    val rows = Seq(
      (1L, 1L, 10L, "view"), (2L, 1L, 20L, "click"), (3L, 1L, 30L, "purchase"),
      (4L, 2L, 10L, "view"), (5L, 2L, 20L, "click"), (6L, 2L, 25L, "error"),
      (7L, 2L, 30L, "purchase"),
      (9L, 3L, 5L, "view"), (10L, 3L, 5L, "click"), (11L, 3L, 6L, "purchase"),
    ).toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = TimeSeriesOps.patternMatchOf(rows, "v[^e]*c[^e]*p")
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(out(1L) == ("vcp", 1L))
    assert(out(2L) == ("vcep", 0L))
    assert(out(3L) == ("vcp", 1L), "same-µs tie must order by event_id")
  }

  test("label propagation: two bridged cliques settle into two communities") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // K4 on {1..4} and K4 on {11..14}, one bridge 4–11. Inside a clique
    // every node sees 3 clique labels vs at most 1 from across the bridge,
    // so propagation pulls each clique to its own minimum and the bridge
    // cannot flip a community.
    val k4a = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val k4b = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val edges = (k4a ++ k4b :+ ((4L, 11L))).toDF("p1", "p2")
    val rows = GraphOps.labelPropOf(edges, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == (1L to 4L).toSet ++ (11L to 14L).toSet)
    val cA = (1L to 4L).map(rows(_)._1).distinct
    val cB = (11L to 14L).map(rows(_)._1).distinct
    assert(cA == Seq(1L), s"clique A must agree on label 1: $rows")
    assert(cB == Seq(11L), s"clique B must agree on label 11: $rows")
    assert(rows(1L)._2 == 4L && rows(11L)._2 == 4L,
      s"both communities have 4 members: $rows")
  }

  test("modularity: bridged cliques score high, one blob scores zero") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val k4a = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val k4b = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val two = (k4a ++ k4b :+ ((4L, 11L))).toDF("p1", "p2")
    val rows = GraphOps.modularityOf(two, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(rows.length == 2, s"two communities: ${rows.toSeq}")
    assert(rows.forall(_._2 == 4L))
    assert(rows.forall(_._3 == 6L), "each K4's 6 edges are internal")
    assert(rows.head._4 > 0.3, s"real structure must score: ${rows.head._4}")
    // one community holding everything: e_c/m = 1 and (d_c/2m)^2 = 1 -> Q = 0
    val k5 = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toDF("p1", "p2")
    val blob = GraphOps.modularityOf(k5, 4).collect()
    assert(blob.length == 1 && blob.head.getDouble(5) == 0.0,
      s"single-community Q must be exactly 0: ${blob.toSeq}")
  }

  test("hits: star hub dominates, its targets are the authorities, reruns are bit-stable") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // node 1 points at 3 authorities; node 2 points at one of them; a
    // disjoint edge 8->9 provides background mass. The 3-target hub must
    // out-score the 1-target hub, and the doubly-pointed-at node 5 must
    // be the top authority.
    val e = Seq((1L, 5L), (1L, 6L), (1L, 7L), (2L, 5L), (8L, 9L))
      .toDF("src", "dst")
    val out = GraphOps.hitsOf(e, 8).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L, 5L, 6L, 7L, 8L, 9L), "src ∪ dst ranked")
    assert(out(1L)._1 > out(2L)._1, "3-target hub beats 1-target hub")
    assert(out(5L)._2 > out(6L)._2, "doubly-cited authority beats singly-cited")
    assert(out(5L)._1 == 0.0 && out(6L)._1 == 0.0, "pure sinks have no hub score")
    assert(out(1L)._2 == 0.0, "pure source has no authority score")
    val rerun = GraphOps.hitsOf(e, 8).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rerun == out, "quantized fixed point must be bit-stable across runs")
  }

  test("label propagation is deterministic under tie pressure") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // a 4-cycle is all ties (each node sees two equal-count labels every
    // round) — the min-tie-break must make the outcome a pure function of
    // the edge set, so two runs agree row-for-row
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("p1", "p2")
    val a = GraphOps.labelPropOf(cyc, 4).collect().toSeq
    val b = GraphOps.labelPropOf(cyc, 4).collect().toSeq
    assert(a == b, "fixed-round synchronous LPA must be deterministic")
    assert(a.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("jaccard links: overlap over union, adjacency excluded, degrees normalize") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // path 1-2-3: only candidate (1,3) through hub 2; both endpoints have
    // degree 1 -> union = 1+1-1 = 1 -> jaccard exactly 1.0
    val path = Seq((1L, 2L), (2L, 3L)).toDF("p1", "p2")
    val p = GraphOpsJaccardFixture.run(path)
    assert(p.keySet == Set((1L, 3L)))
    assert(p((1L, 3L)) == ((1L, 1.0)))
    // triangle 1-2-3 with pendant 4 on node 3: candidates (1,4) and (2,4)
    // share only hub 3; deg(1)=deg(2)=2, deg(4)=1 -> 1/(2+1-1) = 0.5.
    // (1,2),(1,3),(2,3) are edges -> excluded even though they share hubs.
    val g2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("p1", "p2")
    val m = GraphOpsJaccardFixture.run(g2)
    assert(m.keySet == Set((1L, 4L), (2L, 4L)), s"adjacent pairs leak: ${m.keySet}")
    assert(m((1L, 4L)) == ((1L, 0.5)) && m((2L, 4L)) == ((1L, 0.5)))
  }

  test("random walks: every hop follows an edge and replays from the hash") {
    import org.apache.spark.sql.functions._
    val rows = GraphOps.randomWalks.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val byScan = rows.groupBy(_._1)
    assert(byScan.values.forall(_.length == 5), "each seed yields a 5-node walk")
    val edges = GraphOps.cooccurEdges(graft.io.Tables.lineitem(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted).toMap
    for ((seed, walk) <- byScan) {
      val path = walk.sortBy(_._2).map(_._3)
      assert(path.head == seed, "walks start at their seed")
      for (t <- 1 until path.length) {
        val nbrs = adj(path(t - 1))
        assert(nbrs.contains(path(t)), s"seed $seed step $t must follow an edge")
        val hv = graft.functions.Md5Hash60.hash60(
          s"$seed|$t|${path(t - 1)}".getBytes("UTF-8"))
        assert(path(t) == nbrs((hv % nbrs.length).toInt),
          s"seed $seed step $t must be the hash-selected neighbor")
      }
    }
  }

  test("tree rollup matches a brute-force ancestor walk over the heap forest") {
    import org.apache.spark.sql.functions._
    val rows = GraphOps.treeRollup.run(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.nonEmpty && rows.keySet.forall(_ <= 40))
    val cust = graft.io.Tables.customer(spark, sf)
      .select($"c_custkey", floor($"c_acctbal" * 100 + 0.5).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // driver-side: walk each key up via k -> k/2, stopping after 1 (or at 0)
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for ((k, cents) <- cust) {
      var a = k
      var continue = true
      while (continue) {
        if (a <= 40) {
          val (s, c) = acc.getOrElse(a, (0L, 0L))
          acc(a) = (s + 1, c + cents)
        }
        if (a > 1) a = a / 2 else continue = false
      }
    }
    assert(rows == acc.toMap, "pointer-doubling closure == brute-force walk")
    // root 1 covers every node except the isolated key 0
    assert(rows(1L)._1 == cust.length - (if (rows.contains(0L)) 1 else 0))
  }

  test("assortativity replays a driver-side Pearson over symmetrized edge degrees") {
    val sf = "/root/testdata/sf0.001"
    val row = GraphOps.assortativity.run(spark, sf).collect().head
    val edges = GraphOps.cooccurEdges(graft.io.Tables.lineitem(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(row.getLong(0) == edges.length.toLong, "edge count")
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pts = edges.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum.toDouble, pts.map(_._2).sum.toDouble)
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val syy = pts.map(p => p._2 * p._2).sum.toDouble
    val want = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(row.getDouble(1) - want) < 1e-6, s"r = $want")
    assert(row.getDouble(1) >= -1.0 && row.getDouble(1) <= 1.0)
  }

  test("sssp: cheap two-edge path beats a heavy direct edge, round cap bounds reach") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // 1-2:10, 2-3:10 undercut the direct 1-3:100 (weighted ≠ BFS);
    // chain 3-4-5 at 10 each needs exactly 4 relax rounds for node 5's
    // cheap 40; node 6's cheap 5-edge path (50) is out of reach at 4
    // rounds, so it reports the best ≤4-edge path 1-3-4-5-6 = 130 — the
    // bounded-Bellman-Ford contract; {100,101} form an unreachable
    // component → absent. Source = min src id = 1.
    val und = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 100L),
      (3L, 4L, 10L), (4L, 5L, 10L), (5L, 6L, 10L), (100L, 101L, 5L))
    val edges = (und ++ und.map { case (a, b, c) => (b, a, c) })
      .toDF("src", "dst", "cost")
    val out = GraphOps.ssspOf(edges, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 10L, 3L -> 20L, 4L -> 30L, 5L -> 40L,
        6L -> 130L),
      s"weighted distances must win over hop count: $out")
    // one more round lets the cheap 5-edge chain overtake the heavy detour
    val relaxed = GraphOps.ssspOf(edges, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(relaxed(6L) == 50L, s"round 5 must relax node 6 to 50: $relaxed")
    val again = GraphOps.ssspOf(edges, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == again, "sssp must be deterministic")
  }

  test("louvain pass: gain discounts hub-hub edges, ties break to the smaller id") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // Two hubs 1,2 joined by the RAW-heaviest edge (w=30), each holding
    // two w=20 leaves. m=110, 2m=220, deg(hub)=70, deg(leaf)=20.
    //   gain(hub→hub)  = 220·30 − 70·70 = 1700
    //   gain(hub→leaf) = 220·20 − 70·20 = 3000  ← degree discounting wins
    // so each hub merges with a LEAF despite the heavier hub-hub edge,
    // and the equal-gain leaf pair (10 vs 11) resolves to the smaller id.
    val wp = Seq((1L, 2L, 30L), (1L, 10L, 20L), (1L, 11L, 20L),
      (2L, 20L, 20L), (2L, 21L, 20L)).toDF("p1", "p2", "w")
    val out = GraphOps.louvainPassOf(wp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((10L, 3000L)), s"hub 1 must join leaf 10: $out")
    assert(out(2L) == ((20L, 3000L)), s"hub 2 must join leaf 20: $out")
    // every leaf's only neighbor is its hub: gain = 220·20 − 20·70 = 3000
    assert(Seq(10L, 11L).forall(out(_) == ((1L, 3000L))), s"leaves→hub 1: $out")
    assert(Seq(20L, 21L).forall(out(_) == ((2L, 3000L))), s"leaves→hub 2: $out")
  }

  test("louvain full: parity rounds coalesce planted cliques across a weak bridge") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // Two triangles {1,2,3} and {4,5,6} (internal w=10) joined by a weak
    // bridge (3,4,w=1). m=61, 2m=122. Hand-traced parity rounds:
    //   r1 (odd move):  1→comm2 (score 820 beats comm3's 800),
    //                   3→comm1 (800/800 tie breaks to smaller id),
    //                   5→comm6 (820)
    //   r2 (even move): 4→comm6 (w(4,{5,6})=20 → 122·20−21·40=1600);
    //                   2 and 6 stay (own-community score 820 is best)
    //   r3 (odd move):  3→comm2 (122·20−21·40=1600; bridge to comm6
    //                   scores 122−21·61=−1159) — cliques now whole
    //   r4 (even move): fixpoint — every stay score dominates
    // so the weak bridge never merges the cliques, and synchronous-only
    // oscillation (hub pairs swapping forever) cannot occur by parity.
    val wp = Seq((1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L), (3L, 4L, 1L))
      .toDF("p1", "p2", "w")
    val out = GraphOps.louvainFullOf(wp, 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(Seq(1L, 2L, 3L).forall(out(_) == ((2L, 3L))),
      s"triangle A must coalesce into community 2: $out")
    assert(Seq(4L, 5L, 6L).forall(out(_) == ((6L, 3L))),
      s"triangle B must coalesce into community 6: $out")
    val again = GraphOps.louvainFullOf(wp, 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == again, "louvain full must be deterministic")
  }

  test("louvain coarsening merges ring-of-clique fragments the flat pass leaves") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // Ring of 10 unit triangles bridged by unit edges — the Fortunato &
    // Barthelemy resolution-limit regime: every single NODE is locally
    // optimal staying in its triangle (stay 2m·2 − 3·(8−3) = 145 beats
    // jump 2m·1 − 3·8 = 56, in 2m² units, m = 40), so the flat pass
    // fixes at one community per triangle; but adjacent triangles as
    // SUPERNODES gain by merging (2m·w(A,B) − deg(A)·deg(B) =
    // 80 − 64 > 0) — only the contraction phase can see it.
    val k = 10
    val edges = (0 until k).flatMap { t =>
      val b = 3 * t
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2), (b + 2, (b + 3) % (3 * k)))
    }.map { case (a, b) => (math.min(a, b).toLong, math.max(a, b).toLong, 1L) }
      .toDF("p1", "p2", "w")
    val flat = GraphOps.louvainFullOf(edges, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val triangleOf = (n: Long) => n / 3
    assert(flat.groupBy(_._2).values.map(_.keys.map(triangleOf).toSet.size)
        .forall(_ == 1) && flat.values.toSet.size == k,
      s"flat pass must fix at exactly one community per triangle: $flat")
    val coarse = GraphOps.louvainMultilevelOf(edges, 4, 2, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // phase 2 output must be a strict coarsening: flat communities map
    // WHOLE into coarse communities, and at least one adjacent pair merged
    assert(flat.groupBy(_._2).values
        .forall(m => m.keys.map(coarse).toSet.size == 1),
      "every flat community must land in exactly one coarse community")
    assert(coarse.values.toSet.size < k,
      s"supernode rounds must merge adjacent triangles: $coarse")
    // NOTE: merged label groups need not be ring-contiguous — a supernode
    // can adopt a neighbor's label and that neighbor move on next round
    // (standard label semantics, same as the flat phase).
    val again = GraphOps.louvainMultilevelOf(edges, 4, 2, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(coarse == again, "coarsening must be deterministic")
  }

  test("SCC: cycles found exactly, DAG part trims to singletons, labels are min-member") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // 3-cycle {1,2,3} → chain node 4 → 2-cycle {5,6}; 7 feeds the 3-cycle.
    // The chain/feeder nodes are singleton SCCs; labels = min member.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 5L), (7L, 1L)).toDF("src", "dst")
    val got = GraphOps.sccOf(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      4L -> ((4L, 1L)), 7L -> ((7L, 1L)),
      5L -> ((5L, 2L)), 6L -> ((5L, 2L))), s"wrong SCCs: $got")
    // the confirm walk must NOT leak across touching-but-one-way cycles:
    // {10,11} → {12,13} share no mutual path, so they stay separate
    val touching = Seq((10L, 11L), (11L, 10L), (12L, 13L), (13L, 12L),
      (11L, 12L)).toDF("src", "dst")
    val got2 = GraphOps.sccOf(touching).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(10L -> 10L, 11L -> 10L, 12L -> 12L, 13L -> 12L),
      s"one-way-linked cycles must stay separate SCCs: $got2")
    val again = GraphOps.sccOf(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == again, "SCC labels must be deterministic")
  }

  test("stress: path graph counts exactly the shortest paths through each node") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // path 1-2-3-4, all nodes as sources: ordered endpoint pairs routing
    // through node 2 are (1,3),(1,4),(3,1),(4,1) -> stress 4; symmetric for
    // node 3; endpoints broker nothing
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = GraphOps.stressOf(edges, 4, 12).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ((3L, 0L)), 2L -> ((3L, 4L)),
      3L -> ((3L, 4L)), 4L -> ((3L, 0L))), s"path stress mismatch: $got")
    // diamond 1-2-4, 1-3-4 (+ reverse): two shortest 1->4 paths, sigma
    // must split over both middles and count them once each
    val d = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val dedges = (d ++ d.map(_.swap)).toDF("src", "dst")
    val gd = GraphOps.stressOf(dedges, 4, 12).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // through 2: (1,4) and (4,1) one path each -> 2; same for 3; the
    // endpoints 1 and 4 sit between 2 and 3 (paths 2-1-3, 2-4-3 + reverses):
    // sigma(2->, via 1)=1 of 2 shortest... stress counts PATHS: through 1:
    // 2->1->3 and 3->1->2 -> 2
    assert(gd == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L),
      s"diamond stress mismatch: $gd")
    val again = GraphOps.stressOf(edges, 4, 12).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == again, "stress must be deterministic")
  }

  test("closeness: with every node a landmark the estimate is exact closeness") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // path 1-2-3-4 (both orientations): exact distance sums 6,4,4,6
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = GraphOps.closenessOf(edges, 4, 24).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      1L -> ((4L, 6L, 666666L)), 2L -> ((4L, 4L, 1000000L)),
      3L -> ((4L, 4L, 1000000L)), 4L -> ((4L, 6L, 666666L))),
      s"exact closeness mismatch: $got")
    // hop cap is a hard gate on BOTH sides: cap 1 sees only neighbors
    val capped = GraphOps.closenessOf(edges, 4, 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(capped(1L) == ((2L, 1L)) && capped(2L) == ((3L, 2L)),
      s"hop cap must bound the BFS: $capped")
  }

  test("oracle unroll constants keep slack over the observed fixpoint/eccentricity") {
    // Round-13 ADVICE: KTrussOracleRounds / StressMaxHops / ClosenessMaxHops
    // are empirical margins over the CURRENT test data; this test re-derives
    // the bound mechanically so a testdata regeneration that deepens the
    // graph fails HERE (with the new value in the message) instead of as an
    // opaque oracle hash mismatch. Driver-side replay is fine in a spec —
    // the sf0.01 co-occurrence graph is ~3.4k edges.
    val sf01 = "/root/testdata/sf0.01"
    val edges = GraphOps.cooccurEdges(io.Tables.lineitem(spark, sf01))
      .select("p1", "p2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    // landmark eccentricity: same 8 smallest-md5 landmark rule as the lanes
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val lms = adj.keys.toSeq.sortBy(id => (h60(id.toString), id))
      .take(GraphOps.ClosenessLandmarks)
    val ecc = lms.map { lm =>
      var seen = Set(lm); var frontier = Set(lm); var d = 0
      while (frontier.nonEmpty) {
        val nf = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        if (nf.nonEmpty) d += 1
        seen ++= nf; frontier = nf
      }
      d
    }.max
    assert(ecc < GraphOps.StressMaxHops,
      s"landmark eccentricity $ecc leaves no slack under StressMaxHops " +
        s"${GraphOps.StressMaxHops} — re-derive the cap")
    assert(ecc < GraphOps.ClosenessMaxHops,
      s"landmark eccentricity $ecc leaves no slack under ClosenessMaxHops " +
        s"${GraphOps.ClosenessMaxHops}")
    // k-truss peel fixpoint: productive rounds must stay strictly below the
    // oracle unroll (the last unrolled CTE round is a no-op)
    var e = edges.toSet
    var rounds = 0
    var changed = true
    while (changed && rounds < 64) {
      val byP1 = e.groupBy(_._1)
      val support = collection.mutable.Map.empty[(Long, Long), Int]
      for ((a, b) <- e; (_, c) <- byP1.getOrElse(b, Set.empty)
           if e.contains((a, c))) {
        support((a, b)) = support.getOrElse((a, b), 0) + 1
        support((b, c)) = support.getOrElse((b, c), 0) + 1
        support((a, c)) = support.getOrElse((a, c), 0) + 1
      }
      val next = e.filter(support.getOrElse(_, 0) >= GraphOps.KTrussK - 2)
      changed = next != e
      if (changed) rounds += 1
      e = next
    }
    assert(rounds < GraphOps.KTrussOracleRounds,
      s"k-truss needs $rounds productive peel rounds — KTrussOracleRounds " +
        s"${GraphOps.KTrussOracleRounds} leaves no no-op margin")
  }

  test("multi-level Louvain: level 1 == coarsen, levels refine hierarchically, fixpoint is a no-op") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // two 4-cliques bridged weakly, and that pattern twice with a medium
    // bridge between the pattern instances: the fine pass finds the
    // cliques, coarsening can merge bridged cliques once they act as
    // single nodes
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b, 3L)
    val edges = (clique(1L to 4L) ++ clique(5L to 8L) ++
      clique(11L to 14L) ++ clique(15L to 18L) ++
      Seq((4L, 5L, 2L), (14L, 15L, 2L), (8L, 11L, 1L)))
      .toDF("p1", "p2", "w")
    // one level (the graph_louvain_coarsen lane) must equal ONE explicit
    // contract-and-move step built here from the fine assignment: sum
    // edge weights per community pair, run the coarse rounds on that
    // supergraph, project back, and size the communities
    val ml1 = GraphOps.louvainMultilevelOf(edges, 4, 2, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fine = GraphOps.louvainAssignOf(edges, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ce = edges.collect().toSeq
      .map(r => (fine(r.getLong(0)), fine(r.getLong(1)), r.getLong(2)))
      .groupBy { case (a, b, _) => (math.min(a, b), math.max(a, b)) }
      .map { case ((a, b), ws) => (a, b, ws.map(_._3).sum) }.toSeq
      .toDF("p1", "p2", "w")
    val km = GraphOps.louvainAssignOf(ce, 2, skipSelf = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val proj = fine.map { case (n, c) => n -> km(c) }
    val sizes = proj.values.groupBy(identity).view.mapValues(_.size.toLong)
    val co = proj.toSeq.sorted.map { case (n, c) => (n, c, sizes(c)) }
    assert(ml1 == co, "levels=1 must equal one explicit contract-and-move step")
    // two levels: every level-1 community maps WHOLLY into one level-2
    // community (the hierarchy property), and communities only merge
    val ml2 = GraphOps.louvainMultilevelOf(edges, 4, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val l1 = ml1.map(t => (t._1, t._2)).toMap
    l1.groupBy(_._2).values.foreach { grp =>
      val l2s = grp.keys.map(ml2).toSet
      assert(l2s.size == 1, s"level-1 community split at level 2: $grp -> $l2s")
    }
    assert(ml2.values.toSet.size <= l1.values.toSet.size)
    // a third level on this small graph is past the fixpoint: exact no-op
    val ml3 = GraphOps.louvainMultilevelOf(edges, 4, 2, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ml3 == ml2, "level past the fixpoint must be a no-op")
  }

  test("SCC condensation: DAG depth, degrees and member counts on a planted chain") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // 3-cycle {1,2,3} -> 3-cycle {4,5,6} -> singleton 7
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L), (6L, 7L)).toDF("src", "dst")
    val rows = GraphOps.sccCondenseOf(edges).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set(1L, 4L, 7L), s"scc ids: ${rows.keySet}")
    assert(rows(1L) == ((3L, 0L, 1L, 0L)), s"source SCC: ${rows(1L)}")
    assert(rows(4L) == ((3L, 1L, 1L, 1L)), s"middle SCC: ${rows(4L)}")
    assert(rows(7L) == ((1L, 1L, 0L, 2L)), s"sink singleton: ${rows(7L)}")
  }

  test("densest peel: star shell strips first, the clique core is the best round") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // K6 on nodes 0..5 (m = 15) plus 12 degree-1 leaves on node 0:
    // round 0 sees n = 18, m = 27 (density 1.5) and the deg·n ≤ 3m rule
    // strips the leaves; round 1 is the bare clique (density 2.5 = best);
    // a clique always peels itself entirely, so round 2 is empty
    val clique = for (a <- 0 until 6; b <- a + 1 until 6) yield (a.toLong, b.toLong)
    val leaves = (6 until 18).map(l => (0L, l.toLong))
    val edges = (clique ++ leaves).toDF("p1", "p2")
    val rows = GraphOps.densestOf(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (0L, 18L, 27L, 1500000L, 0L),
      (1L, 6L, 15L, 2500000L, 1L)), s"peel readout: ${rows.toSeq}")
    val again = GraphOps.densestOf(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == again.toSeq, "peel must be deterministic")
    // the oracle's fixed unroll keeps slack over the observed sf0.01 depth
    val sfRows = GraphOps.densestOf(GraphOps.cooccurEdges(
      graft.io.Tables.lineitem(spark, "/root/testdata/sf0.01"))).collect()
    assert(sfRows.nonEmpty && sfRows.length + 6 <= 24,
      s"oracle unroll must keep >=6 rounds of slack (observed ${sfRows.length})")
  }

  test("harmonic centrality: with every node a landmark the sums are exact") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // path 1-2-3: harmonic(2) = 1/1 + 1/1; harmonic(1) = 1/1 + 1/2
    val und = Seq((1L, 2L), (2L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val rows = GraphOps.harmonicOf(und, nLm = 3, maxHops = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows == Map(
      1L -> ((3L, 1500000L)),
      2L -> ((3L, 2000000L)),
      3L -> ((3L, 1500000L))), s"got $rows")
  }

  test("MIS: independent, maximal, and equal to the sequential greedy of the hash order") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    import org.apache.spark.sql.functions.{array, call_function, explode}
    // ring of 8 with two chords — enough structure that local minima
    // fire in several rounds
    val ring = (0 until 8).map(i => (i.toLong, ((i + 1) % 8).toLong))
    val edges = (ring ++ Seq((0L, 4L), (1L, 5L)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("p1", "p2")
    val out = GraphOps.misOf(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = (ring ++ Seq((0L, 4L), (1L, 5L)))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mis = out.filter(_._2 == 1L).keySet
    // independence + maximality
    assert(mis.forall(v => adj(v).intersect(mis).isEmpty), s"not independent: $mis")
    assert(out.keySet.diff(mis).forall(v => adj(v).intersect(mis).nonEmpty),
      s"not maximal: $mis")
    // the synchronous rounds must equal the sequential greedy of the
    // (md5 hash, id) order — the static-priority confluence claim
    val h = edges.select(explode(array($"p1", $"p2")).as("id")).distinct()
      .select($"id", call_function("md5hash60", $"id".cast("string")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val greedy = scala.collection.mutable.Set.empty[Long]
    out.keySet.toSeq.sortBy(v => (h(v), v)).foreach { v =>
      if (adj(v).intersect(greedy).isEmpty) greedy += v
    }
    assert(mis == greedy.toSet, s"parallel $mis vs sequential greedy $greedy")
    // oracle unroll slack at the oracle SF: replay the synchronous peel
    // in-process over the sf0.01 mined graph and count rounds
    val sfEdges = GraphOps.cooccurEdges(
      graft.io.Tables.lineitem(spark, "/root/testdata/sf0.01"))
      .select($"p1", $"p2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sfAdj = sfEdges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sfH = GraphOps.cooccurEdges(
      graft.io.Tables.lineitem(spark, "/root/testdata/sf0.01"))
      .select(explode(array($"p1", $"p2")).as("id")).distinct()
      .select($"id", call_function("md5hash60", $"id".cast("string")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var active = sfAdj.keySet
    var rounds = 0
    while (active.nonEmpty && rounds < 64) {
      val lt = Ordering[(Long, Long)].lt _
      val sel = active.filter(v => sfAdj(v).intersect(active)
        .forall(u => lt((sfH(v), v), (sfH(u), u))))
      active = active -- sel -- sel.flatMap(sfAdj)
      rounds += 1
    }
    assert(rounds + 6 <= 16,
      s"MIS oracle unroll must keep >=6 rounds of slack (observed $rounds)")
  }

  test("diameter double sweep: second sweep finds what the first underestimates") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // tree 5-2-3-4 with leaf 5 on node 2: BFS from min id (2) has
    // eccentricity 2 (to 4), but the second sweep from 4 reaches 5 at
    // distance 3 = the true diameter — the reason the double sweep exists
    val und = Seq((2L, 3L), (3L, 4L), (2L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val r = GraphOps.diameterOf(und).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((2L, 4L, 2L, 5L, 3L)), s"double sweep: $r")
  }

  test("coreness: h-index fixpoint equals the classic peel on a clique with a tail") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // K4 on 1..4 plus tail 4-5-6: coreness 3 inside the clique, 1 on the
    // tail (node 5's second neighbor peels away at k = 1)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("p1", "p2")
    val rows = GraphOps.corenessOf(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows == Map(
      1L -> ((3L, 3L)), 2L -> ((3L, 3L)), 3L -> ((3L, 3L)),
      4L -> ((3L, 4L)), 5L -> ((1L, 2L)), 6L -> ((1L, 1L))), s"got $rows")
    // oracle unroll slack at the oracle SF: replay the h-index iteration
    // in-process over the sf0.01 mined graph and count rounds to fixpoint
    val sfEdges = GraphOps.cooccurEdges(
      graft.io.Tables.lineitem(spark, "/root/testdata/sf0.01"))
      .select($"p1", $"p2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = sfEdges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def hIndex(vs: Seq[Long]): Long = {
      val sorted = vs.sortBy(-_)
      sorted.zipWithIndex.map { case (v, i) => math.min(v, i + 1L) }.max
    }
    var c = adj.view.mapValues(_.length.toLong).toMap
    var rounds = 0
    var changed = true
    while (changed && rounds < 64) {
      val next = adj.map { case (v, ns) => v -> hIndex(ns.map(c)) }
      changed = next != c
      if (changed) { c = next; rounds += 1 }
    }
    assert(rounds + 6 <= 16,
      s"coreness oracle unroll must keep >=6 rounds of slack (observed $rounds)")
    // and the fixpoint is the true coreness: sequential peel cross-check
    val peel = scala.collection.mutable.Map(
      adj.view.mapValues(_.length.toLong).toSeq: _*)
    val core = scala.collection.mutable.Map.empty[Long, Long]
    val live = scala.collection.mutable.Set(adj.keySet.toSeq: _*)
    var k = 0L
    while (live.nonEmpty) {
      val victims = live.filter(v => peel(v) <= k)
      if (victims.isEmpty) k += 1
      else victims.foreach { v =>
        core(v) = k; live -= v
        adj(v).foreach(u => if (live(u)) peel(u) = peel(u) - 1)
      }
    }
    assert(c == core.toMap, "h-index fixpoint must equal the peel coreness")
  }

  test("shared Louvain fine pass reproduces the local build in all three lanes") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // the ring-of-triangles resolution-limit fixture again: the memoized
    // fine assignment handed to each lane must be indistinguishable from
    // the lane computing its own
    val k = 10
    val edges = (0 until k).flatMap { t =>
      val b = 3 * t
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2), (b + 2, (b + 3) % (3 * k)))
    }.map { case (a, b) => (math.min(a, b).toLong, math.max(a, b).toLong, 1L) }
      .toDF("p1", "p2", "w")
    val fine = graft.Caches.persist(GraphOps.louvainAssignOf(edges, 4))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(GraphOps.louvainFullOf(edges, 4, Some(fine))) ==
      rows(GraphOps.louvainFullOf(edges, 4)), "flat lane")
    assert(rows(GraphOps.louvainMultilevelOf(edges, 4, 2, 1, Some(fine))) ==
      rows(GraphOps.louvainMultilevelOf(edges, 4, 2, 1)), "coarsen lane")
    assert(rows(GraphOps.louvainMultilevelOf(edges, 4, 2, 2, Some(fine))) ==
      rows(GraphOps.louvainMultilevelOf(edges, 4, 2, 2)), "multilevel lane")
    graft.Caches.release()
  }
}

/** Collects jaccardLinksOf output as (a,b) -> (n_common, jaccard). */
private object GraphOpsJaccardFixture {
  def run(edges: org.apache.spark.sql.DataFrame): Map[(Long, Long), (Long, Double)] =
    GraphOps.jaccardLinksOf(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Long]("n_common"), r.getAs[Double]("jaccard")))).toMap
}
