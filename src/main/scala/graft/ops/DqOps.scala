package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.io.Tables

/** Data-quality audits — the referential-integrity checks a warehouse runs
  * before trusting a load. Each check is a plain aggregate or anti-join, so
  * the audit costs one pass per table at any scale (and the FK check rides
  * the same runtime bloom-filter/broadcast machinery as a production join).
  * Healthy testdata means every violation count is ZERO — which is exactly
  * what the oracle pins: a parser or join regression that duplicates or
  * drops keys flips a hash-checked zero.
  */
object DqOps {

  /** Primary-key uniqueness per table: total rows vs distinct PKs and the
    * number of violating key values. */
  val pkUnique: QueryDef = QueryDef(
    "dq_pk_unique",
    Seq(("customer", "c_custkey"), ("orders", "o_orderkey"),
      ("part", "p_partkey"), ("supplier", "s_suppkey"))
      .map { case (t, k) =>
        s"""SELECT '$t' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(DISTINCT $k) AS BIGINT) AS n_keys,
           |       CAST(count(*) - count(DISTINCT $k) AS BIGINT) AS n_dup_rows
           |FROM $t""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl"),
  ) { (spark, dir) =>
    Seq(("customer", "c_custkey"), ("orders", "o_orderkey"),
      ("part", "p_partkey"), ("supplier", "s_suppkey"))
      .map { case (t, k) =>
        Tables.load(spark, dir, t).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col(k)).as("n_keys"),
          (count(lit(1)) - countDistinct(col(k))).as("n_dup_rows"))
          .select(lit(t).as("tbl"), $"n_rows", $"n_keys", $"n_dup_rows")
      }.reduce(_ union _).orderBy($"tbl")
  }

  /** Foreign-key orphan counts: child keys with no parent row, per edge of
    * the schema graph — left-anti joins, the scale-right containment
    * check. */
  val fkOrphans: QueryDef = QueryDef(
    "dq_fk_orphans",
    """SELECT 'lineitem->orders' AS fk, CAST(count(*) AS BIGINT) AS n_orphans
      |FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'orders->customer' AS fk, CAST(count(*) AS BIGINT) AS n_orphans
      |FROM orders o WHERE NOT EXISTS
      |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |UNION ALL
      |SELECT 'lineitem->part' AS fk, CAST(count(*) AS BIGINT) AS n_orphans
      |FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
      |ORDER BY fk""".stripMargin,
  ) { (spark, dir) =>
    def orphans(name: String, child: org.apache.spark.sql.DataFrame,
        ck: String, parent: org.apache.spark.sql.DataFrame, pk: String) =
      child.join(parent, col(ck) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("fk"), $"n_orphans")
    val (li, o, c, p) = (Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      Tables.customer(spark, dir), Tables.part(spark, dir))
    Seq(
      orphans("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
      orphans("orders->customer", o, "o_custkey", c, "c_custkey"),
      orphans("lineitem->part", li, "l_partkey", p, "p_partkey"),
    ).reduce(_ union _).orderBy($"fk")
  }

  /** Keyed SNAPSHOT DIFF — the row-level change feed between two versions
    * of a table (the audit behind incremental loads, CDC validation, and
    * "what did yesterday's pipeline run actually change?"). The two
    * snapshots are carved deterministically from `orders` so the diff has
    * all three change kinds and the oracle replays it bit-for-bit: the old
    * snapshot lacks keys ≡ 7 (mod 10) (later inserted), the new snapshot
    * drops keys ≡ 3 (mod 10) (deleted) and bumps the price of keys ≡ 0
    * (mod 5) (updated). Output is ONLY the changed rows, tagged
    * added/removed/changed with both sides' values.
    *
    * Scale shape: one full-outer join co-partitioned on the primary key —
    * on bucketed warehouse tables this is shuffle-free; output is bounded
    * by the change set, not the table. The value compare happens inside
    * the join projection, so unchanged rows die before any further
    * operator sees them. */
  val snapshotDiff: QueryDef = QueryDef(
    "dq_snapshot_diff",
    """WITH old AS (SELECT o_orderkey, o_totalprice AS old_price
      |             FROM orders WHERE o_orderkey % 10 != 7),
      |new AS (SELECT o_orderkey,
      |               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
      |                    ELSE o_totalprice END AS new_price
      |        FROM orders WHERE o_orderkey % 10 != 3)
      |SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
      |       CASE WHEN old.o_orderkey IS NULL THEN 'added'
      |            WHEN new.o_orderkey IS NULL THEN 'removed'
      |            ELSE 'changed' END AS status,
      |       old.old_price, new.new_price
      |FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
      |WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
      |      OR old.old_price != new.new_price
      |ORDER BY o_orderkey""".stripMargin,
  ) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
    val old = o.filter(pmod($"o_orderkey", lit(10)) =!= 7)
      .select($"o_orderkey", $"o_totalprice".as("old_price"))
    val neu = o.filter(pmod($"o_orderkey", lit(10)) =!= 3)
      .select($"o_orderkey",
        when(pmod($"o_orderkey", lit(5)) === 0, $"o_totalprice" + 1.0)
          .otherwise($"o_totalprice").as("new_price"))
    old.join(neu, Seq("o_orderkey"), "full_outer")
      .withColumn("status",
        when($"old_price".isNull, "added")
          .when($"new_price".isNull, "removed")
          .when($"old_price" =!= $"new_price", "changed"))
      .filter($"status".isNotNull)
      .select($"o_orderkey", $"status", $"old_price", $"new_price")
      .orderBy($"o_orderkey")
  }

  private val PsiBucket = 50000.0 // o_totalprice band width
  private val PsiSplit = "1998-01-01"

  /** Population Stability Index between the pre- and post-[[PsiSplit]]
    * order cohorts, per price band — the standard distribution-drift
    * monitor (PSI = Σ (p_a − p_b)·ln(p_a/p_b); < 0.1 stable, > 0.25
    * action). Proportions use add-one (Laplace) smoothing over the union
    * bucket set, so a band present on only one side contributes a finite,
    * well-defined term instead of ln(0). Each band's contribution is
    * quantized to a 1e-6 BIGINT BEFORE the total (the `llm_embed_centroid`
    * discipline), so the cross-engine total is exact integer addition and
    * the oracle hash-verifies both the per-band terms and the headline
    * index.
    *
    * Scale shape: one scan → (side, band) counts (tiny), then all
    * arithmetic happens on the band table; the headline total joins back
    * by broadcast. Monitoring 100 TB costs one aggregation pass. */
  val psiDrift: QueryDef = QueryDef(
    "dq_psi_drift",
    s"""WITH t AS (SELECT CAST(floor(o_totalprice / $PsiBucket) AS BIGINT) AS bucket,
       |                  CASE WHEN o_orderdate < TIMESTAMP '$PsiSplit 00:00:00' THEN 1 ELSE 0 END AS in_a
       |           FROM orders),
       |b AS (SELECT bucket, sum(in_a) AS n_a, sum(1 - in_a) AS n_b
       |      FROM t GROUP BY bucket),
       |tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb,
       |               CAST(count(*) AS BIGINT) AS k FROM b),
       |c AS (SELECT bucket, n_a, n_b,
       |             (CAST(n_a + 1 AS DOUBLE) / (ta + k)) AS pa,
       |             (CAST(n_b + 1 AS DOUBLE) / (tb + k)) AS pb
       |      FROM b, tot),
       |q AS (SELECT bucket, n_a, n_b,
       |             CAST(round((pa - pb) * ln(pa / pb) * 1000000) AS BIGINT) AS contrib_e6
       |      FROM c),
       |s AS (SELECT sum(contrib_e6) AS psi_e6 FROM q)
       |SELECT q.bucket, CAST(q.n_a AS BIGINT) AS n_a, CAST(q.n_b AS BIGINT) AS n_b,
       |       q.contrib_e6,
       |       round(CAST(s.psi_e6 AS DOUBLE) / 1000000.0, 6) AS psi
       |FROM q, s ORDER BY q.bucket""".stripMargin,
  ) { (spark, dir) =>
    psiOf(Tables.orders(spark, dir)
      .select(floor($"o_totalprice" / PsiBucket).cast("long").as("bucket"),
        when($"o_orderdate" < lit(PsiSplit).cast("timestamp"), 1)
          .otherwise(0).as("in_a")))
  }

  /** The PSI plan over any (bucket, in_a ∈ {0,1}) frame — extracted so the
    * spec can plant a genuinely shifted distribution and watch the index
    * cross the 0.25 action bar. */
  private[graft] def psiOf(t: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val b = t.groupBy($"bucket")
      .agg(sum($"in_a").as("n_a"), sum(lit(1) - $"in_a").as("n_b"))
    val tot = b.agg(sum($"n_a").as("ta"), sum($"n_b").as("tb"),
      count(lit(1)).as("k"))
    val q = b.crossJoin(broadcast(tot))
      .withColumn("pa", ($"n_a" + 1).cast("double") / ($"ta" + $"k"))
      .withColumn("pb", ($"n_b" + 1).cast("double") / ($"tb" + $"k"))
      .select($"bucket", $"n_a".cast("long").as("n_a"),
        $"n_b".cast("long").as("n_b"),
        round(($"pa" - $"pb") * log($"pa" / $"pb") * 1000000)
          .cast("long").as("contrib_e6"))
    val s = q.agg(sum($"contrib_e6").as("psi_e6"))
    q.crossJoin(broadcast(s))
      .select($"bucket", $"n_a", $"n_b", $"contrib_e6",
        round($"psi_e6".cast("double") / 1000000.0, 6).as("psi"))
      .orderBy($"bucket")
  }

  /** k-anonymity bar for [[kAnonymity]]. */
  private val KAnon = 10

  /** K-ANONYMITY audit (Sweeney 2002) over the customer table: group by
    * the quasi-identifier pair (nation, market segment) — the attributes
    * an adversary can link from outside — and flag every equivalence
    * class smaller than k = [[KAnon]]: those rows are re-identifiable and
    * a release would have to suppress or generalize them. Per class:
    * size, the violation flag, and the class's share of the table; the
    * governance twin of the `llm_pii_*` lane (PII finds direct
    * identifiers, k-anonymity measures INDIRECT identifiability).
    *
    * Scale shape: one (nation, segment)-keyed count — the cheapest audit
    * in the file; the flag is an integer compare against the broadcast
    * total. Healthy TPC-H-ish data has every class comfortably above k at
    * sf ≥ 0.01, which the oracle pins — a loader regression that drops a
    * segment flips hash-checked zeros. */
  val kAnonymity: QueryDef = QueryDef(
    "dq_k_anonymity",
    s"""WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
       |             FROM customer GROUP BY 1, 2),
       |tot AS (SELECT sum(n) AS t FROM cls)
       |SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS class_size,
       |       CAST(CASE WHEN n < $KAnon THEN 1 ELSE 0 END AS BIGINT) AS violates_k,
       |       round(CAST(n AS DOUBLE) / tot.t, 6) AS share
       |FROM cls, tot ORDER BY c_nationkey, c_mktsegment""".stripMargin,
  ) { (spark, dir) => kAnonymityOf(Tables.customer(spark, dir)) }

  /** [[kAnonymity]] over any frame with the two quasi-identifier columns —
    * fixture seam. */
  private[graft] def kAnonymityOf(customer: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cls = customer
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
    val tot = cls.agg(sum($"n").as("t"))
    cls.crossJoin(broadcast(tot))
      .select($"c_nationkey", $"c_mktsegment",
        $"n".cast("long").as("class_size"),
        ($"n" < KAnon).cast("long").as("violates_k"),
        round($"n".cast("double") / $"t", 6).as("share"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  /** l-diversity bar: every quasi-identifier class must see at least this
    * many distinct sensitive values. */
  private val LDiv = 3

  /** l-diversity audit (Machanavajjhala et al. 2007) — the k-anonymity
    * follow-up: a class can be large (k-anonymous) yet still leak if every
    * member shares the same SENSITIVE value, so the audit counts distinct
    * sensitive values per quasi-identifier class. Quasi-identifiers are
    * [[kAnonymity]]'s (nation, segment); the sensitive attribute is the
    * account-balance band (negative / low / high — fixed integer-exact
    * boundaries, so no float can flip a band between engines).
    * `top_share` is the largest single band's fraction — the
    * homogeneity readout behind the stricter recursive (c,l) variant.
    *
    * Scale shape: one (nation, segment, band)-keyed count, then one
    * (nation, segment) rollup — two cheap aggregates, same cost class as
    * [[kAnonymity]]. */
  val lDiversity: QueryDef = QueryDef(
    "dq_l_diversity",
    s"""WITH bnd AS (SELECT c_nationkey, c_mktsegment,
       |                    CASE WHEN c_acctbal < 0 THEN 'negative'
       |                         WHEN c_acctbal < 5000 THEN 'low'
       |                         ELSE 'high' END AS band
       |             FROM customer),
       |bc AS (SELECT c_nationkey, c_mktsegment, band, count(*) AS n
       |       FROM bnd GROUP BY 1, 2, 3),
       |cls AS (SELECT c_nationkey, c_mktsegment,
       |               CAST(sum(n) AS BIGINT) AS class_size,
       |               CAST(count(*) AS BIGINT) AS l_distinct,
       |               CAST(max(n) AS BIGINT) AS top_band_n
       |        FROM bc GROUP BY 1, 2)
       |SELECT c_nationkey, c_mktsegment, class_size, l_distinct,
       |       round(CAST(top_band_n AS DOUBLE) / class_size, 6) AS top_share,
       |       CAST(CASE WHEN l_distinct < $LDiv THEN 1 ELSE 0 END AS BIGINT) AS violates_l
       |FROM cls ORDER BY c_nationkey, c_mktsegment""".stripMargin,
  ) { (spark, dir) => lDiversityOf(Tables.customer(spark, dir)) }

  /** [[lDiversity]] over any frame with the two quasi-identifiers and
    * `c_acctbal` — fixture seam. */
  private[graft] def lDiversityOf(customer: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bc = customer
      .select($"c_nationkey", $"c_mktsegment",
        when($"c_acctbal" < 0, "negative")
          .when($"c_acctbal" < 5000, "low")
          .otherwise("high").as("band"))
      .groupBy($"c_nationkey", $"c_mktsegment", $"band")
      .agg(count(lit(1)).as("n"))
    bc.groupBy($"c_nationkey", $"c_mktsegment")
      .agg(sum($"n").cast("long").as("class_size"),
        count(lit(1)).cast("long").as("l_distinct"),
        max($"n").cast("long").as("top_band_n"))
      .select($"c_nationkey", $"c_mktsegment", $"class_size", $"l_distinct",
        round($"top_band_n".cast("double") / $"class_size", 6).as("top_share"),
        ($"l_distinct" < LDiv).cast("long").as("violates_l"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  /** Slowly-changing-dimension TYPE 2 build (Kimball): compress each
    * user's purchase-value change log into validity intervals — one row
    * per VERSION with `valid_from`/`valid_to` and a current flag, the
    * materialization a warehouse keeps so point-in-time joins become
    * `BETWEEN valid_from AND valid_to` range lookups. True SCD2
    * semantics: consecutive events carrying the SAME value collapse into
    * one version (no spurious row per reload); only a changed value
    * closes the open interval and opens a new one.
    *
    * Scale shape: two windows over the same (user_id × time) partitioning
    * — change detection (lag) and interval close (lead) — so the log
    * shuffles ONCE on user_id and both passes ride that partitioning;
    * state per user is its version chain, never the raw log. Exact
    * double equality detects changes (values are parquet-exact in both
    * engines). */
  /** The SCD2 version-chain CTEs (`log` → `chg` → `ver` → `iv`), shared
    * by [[scd2Build]] and the point-in-time consumer [[scd2Lookup]]. */
  private val scd2Ctes =
    """log AS (SELECT user_id, ts, event_id, value FROM events
      |             WHERE event_type = 'purchase'),
      |chg AS (SELECT *,
      |               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |        FROM log),
      |ver AS (SELECT user_id, value, ts AS valid_from, event_id
      |        FROM chg WHERE prev IS NULL OR value <> prev),
      |iv AS (SELECT user_id, value, valid_from,
      |              lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
      |              CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS BIGINT) AS version
      |       FROM ver)""".stripMargin

  val scd2Build: QueryDef = QueryDef(
    "dq_scd2_build",
    s"""WITH $scd2Ctes
      |SELECT user_id, version, value, valid_from, valid_to,
      |       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM iv ORDER BY user_id, version""".stripMargin,
  ) { (spark, dir) => scd2BuildOf(Tables.events(spark, dir)) }

  /** [[scd2Build]] over any events-shaped frame — fixture seam for the
    * consecutive-duplicate collapse spec. */
  private[graft] def scd2BuildOf(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val byFrom = Window.partitionBy($"user_id").orderBy($"valid_from", $"event_id")
    events.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("prev", lag($"value", 1).over(byTime))
      .filter($"prev".isNull || $"value" =!= $"prev")
      .select($"user_id", $"value", $"ts".as("valid_from"), $"event_id")
      .withColumn("valid_to", lead($"valid_from", 1).over(byFrom))
      .withColumn("version", row_number().over(byFrom).cast("long"))
      .select($"user_id", $"version", $"value", $"valid_from", $"valid_to",
        $"valid_to".isNull.cast("long").as("is_current"))
      .orderBy($"user_id", $"version")
  }

  /** Point-in-time lookup against the [[scd2Build]] dimension: for every
    * click event, the purchase-value VERSION that was valid at the
    * click's timestamp — the join SCD2 exists to serve ("what did this
    * user's dimension look like when the fact happened"). Clicks before
    * the user's first version carry nulls.
    *
    * The engine resolves it as an AS-OF join ([[AsofOps.asofJoin]] — one
    * user-keyed shuffle, window carry, no interval table needed at all),
    * while the oracle joins the materialized intervals with
    * `ts >= valid_from AND (valid_to IS NULL OR ts < valid_to)` — two
    * INDEPENDENT formulations of point-in-time semantics whose hash
    * equality proves the version chain is gapless and non-overlapping
    * (any gap or overlap would desync a row). Empty versions (two value
    * changes at the same instant — interval [t, t)) are excluded on both
    * sides: they can never be valid at any point in time. */
  val scd2Lookup: QueryDef = QueryDef(
    "dq_scd2_lookup",
    s"""WITH $scd2Ctes,
       |live AS (SELECT user_id, version, value, valid_from, valid_to FROM iv
       |         WHERE valid_to IS NULL OR valid_from < valid_to),
       |clk AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
       |SELECT clk.event_id, clk.user_id,
       |       CAST(epoch_us(clk.ts) AS BIGINT) AS click_ts_us,
       |       live.version, round(live.value, 2) AS dim_value
       |FROM clk LEFT JOIN live
       |  ON clk.user_id = live.user_id
       | AND clk.ts >= live.valid_from
       | AND (live.valid_to IS NULL OR clk.ts < live.valid_to)
       |ORDER BY clk.event_id""".stripMargin,
  ) { (spark, dir) => scd2LookupOf(Tables.events(spark, dir)) }

  /** [[scd2Lookup]] over any events-shaped frame — fixture seam. */
  private[graft] def scd2LookupOf(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val versions = scd2BuildOf(ev)
      .filter($"valid_to".isNull || $"valid_from" < $"valid_to")
      .select($"user_id", $"valid_from".as("ts"), $"version", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    AsofOps.asofJoin(clicks, versions, "user_id", "ts",
      payload = Seq("version", "value"))
      .select($"event_id", $"user_id",
        unix_micros($"ts").as("click_ts_us"),
        $"asof_version".as("version"),
        round($"asof_value", 2).as("dim_value"))
      .orderBy($"event_id")
  }

  /** t-closeness bar: maximum allowed distance between a class's
    * sensitive-value distribution and the table-wide one. */
  private val TClose = 0.2

  /** t-closeness audit (Li et al. 2007) — the third rung of the privacy
    * ladder after [[kAnonymity]] (classes big enough) and [[lDiversity]]
    * (classes varied enough): a class can be large AND varied yet still
    * leak if its sensitive-value MIX differs sharply from the table's
    * (e.g. a class that is 90% 'negative' when the table is 10% reveals
    * membership signal). Distance is total variation — the
    * equal-ground-distance specialization of the paper's EMD, ½·Σ|p−q|
    * over the same acctbal bands as the l-diversity audit.
    *
    * Scale shape: band×class counts (one keyed aggregate), the 3-row
    * global band table broadcast, absent bands re-introduced by the
    * broadcast cross join so their |0−q| mass counts. Determinism: each
    * term is the INTEGER |n_cb·T − N_b·cs| (cross-multiplied, no
    * division) summed in a decimal accumulator; one float division at
    * the end. */
  val tCloseness: QueryDef = QueryDef(
    "dq_t_closeness",
    s"""WITH bnd AS (SELECT c_nationkey, c_mktsegment,
       |                    CASE WHEN c_acctbal < 0 THEN 'negative'
       |                         WHEN c_acctbal < 5000 THEN 'low'
       |                         ELSE 'high' END AS band
       |             FROM customer),
       |bc AS (SELECT c_nationkey, c_mktsegment, band, count(*) AS n
       |       FROM bnd GROUP BY 1, 2, 3),
       |gb AS (SELECT band, CAST(sum(n) AS BIGINT) AS nb FROM bc GROUP BY 1),
       |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS t FROM gb),
       |cls AS (SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS cs
       |        FROM bc GROUP BY 1, 2),
       |terms AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.cs, tot.t,
       |                 abs(COALESCE(bc.n, 0) * tot.t - gb.nb * cls.cs) AS term
       |          FROM cls CROSS JOIN gb CROSS JOIN tot
       |          LEFT JOIN bc ON bc.c_nationkey = cls.c_nationkey
       |                      AND bc.c_mktsegment = cls.c_mktsegment
       |                      AND bc.band = gb.band),
       |agg AS (SELECT c_nationkey, c_mktsegment, cs, t,
       |               CAST(sum(term) AS BIGINT) AS num
       |        FROM terms GROUP BY 1, 2, 3, 4)
       |SELECT c_nationkey, c_mktsegment, cs AS class_size,
       |       round(CAST(num AS DOUBLE) / (2.0 * cs * t), 6) AS t_distance,
       |       CAST(CASE WHEN round(CAST(num AS DOUBLE) / (2.0 * cs * t), 6) > $TClose
       |                 THEN 1 ELSE 0 END AS BIGINT) AS violates_t
       |FROM agg ORDER BY c_nationkey, c_mktsegment""".stripMargin,
  ) { (spark, dir) => tClosenessOf(Tables.customer(spark, dir)) }

  /** [[tCloseness]] over any frame with the two quasi-identifiers and
    * `c_acctbal` — fixture seam. */
  private[graft] def tClosenessOf(customer: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bc = customer
      .select($"c_nationkey", $"c_mktsegment",
        when($"c_acctbal" < 0, "negative")
          .when($"c_acctbal" < 5000, "low")
          .otherwise("high").as("band"))
      .groupBy($"c_nationkey", $"c_mktsegment", $"band")
      .agg(count(lit(1)).as("n"))
    val gb = bc.groupBy($"band").agg(sum($"n").cast("long").as("nb"))
    val tot = gb.agg(sum($"nb").cast("long").as("t"))
    val cls = bc.groupBy($"c_nationkey", $"c_mktsegment")
      .agg(sum($"n").cast("long").as("cs"))
    val terms = cls.crossJoin(broadcast(gb)).crossJoin(broadcast(tot))
      .join(bc.select($"c_nationkey".as("bn"), $"c_mktsegment".as("bs"),
          $"band".as("bb"), $"n"),
        $"bn" === $"c_nationkey" && $"bs" === $"c_mktsegment" && $"bb" === $"band",
        "left")
      .select($"c_nationkey", $"c_mktsegment", $"cs", $"t",
        abs(coalesce($"n", lit(0L)) * $"t" - $"nb" * $"cs").as("term"))
    val agg = terms.groupBy($"c_nationkey", $"c_mktsegment", $"cs", $"t")
      .agg(sum($"term".cast("decimal(38,0)")).cast("long").as("num"))
    val td = round($"num".cast("double") / (lit(2.0) * $"cs" * $"t"), 6)
    agg.select($"c_nationkey", $"c_mktsegment", $"cs".as("class_size"),
        td.as("t_distance"),
        (td > TClose).cast("long").as("violates_t"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  /** Benford first-digit conformance audit on order totals — the classic
    * fabricated-data / broken-generator screen a DQ suite runs on any
    * money-like column: the observed leading-digit distribution vs
    * Benford's log₁₀(1+1/d), with each digit's χ² contribution so the
    * offender digit is visible, not just the aggregate verdict.
    *
    * Shape: map-only digit extraction folded into a 9-group aggregate —
    * one scan, a 9-row shuffle, cost is the scan at any scale.
    *
    * Determinism: the leading digit comes from the DECIMAL STRING of the
    * exact cents integer (`regexp_extract('[1-9]')` — ×100 never changes
    * the leading significant digit), not from `floor(log10(x))`, whose ulp
    * error flips digits at exact powers of ten. The expected-share floats
    * are one identical log10 expression per digit on both engines. */
  val benford: QueryDef = QueryDef(
    "dq_benford",
    """WITH d AS (SELECT CAST(regexp_extract(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
      |                                      '[1-9]') AS BIGINT) AS digit
      |           FROM orders),
      |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit),
      |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM o)
      |SELECT o.digit, o.n_obs,
      |       round(CAST(o.n_obs AS DOUBLE) / t.n, 6) AS obs_share,
      |       round(log10(1.0 + 1.0 / o.digit), 6) AS exp_share,
      |       round((CAST(o.n_obs AS DOUBLE) - t.n * log10(1.0 + 1.0 / o.digit))
      |             * (CAST(o.n_obs AS DOUBLE) - t.n * log10(1.0 + 1.0 / o.digit))
      |             / (t.n * log10(1.0 + 1.0 / o.digit)), 6) AS chi2_term
      |FROM o, t ORDER BY o.digit""".stripMargin,
  ) { (spark, dir) =>
    val d = Tables.orders(spark, dir)
      .select(regexp_extract(round($"o_totalprice" * 100).cast("long").cast("string"),
        "[1-9]", 0).cast("long").as("digit"))
    val o = d.groupBy($"digit").agg(count(lit(1)).as("n_obs"))
    val t = o.agg(sum($"n_obs").as("n"))
    val exp = $"n" * log10(lit(1.0) + lit(1.0) / $"digit")
    o.crossJoin(broadcast(t))
      .select($"digit", $"n_obs",
        round($"n_obs".cast("double") / $"n", 6).as("obs_share"),
        round(log10(lit(1.0) + lit(1.0) / $"digit"), 6).as("exp_share"),
        round(($"n_obs".cast("double") - exp) * ($"n_obs".cast("double") - exp) / exp, 6)
          .as("chi2_term"))
      .orderBy($"digit")
  }

  /** Record-linkage blocking: customer-name pairs within edit distance 1,
    * found by the SYMSPELL deletion neighborhood (Garbe 2012) rather than a
    * quadratic compare — every name emits its ≤len 1-deletion variants plus
    * itself; any ED≤1 pair MUST collide on a variant (substitution: delete
    * the differing position from both; insert/delete: the shorter string IS
    * the longer's deletion), so the candidate set is an equi-join on the
    * variant key and `levenshtein` verifies candidates only. The entity-
    * resolution primer a customer-dedup pipeline starts from.
    *
    * Scale shape: linear ×(len+1) explode, variant-keyed shuffle, exact
    * verify on candidates — the same blocking-join architecture as the
    * MinHash band join, with the deletion variant as the band. DISTINCT
    * before verify because an ED≤2 pair can share a variant too. */
  val typoPairs: QueryDef = QueryDef(
    "dq_typo_pairs",
    """WITH v AS (SELECT c_custkey AS id, c_name AS w FROM customer),
      |del AS (SELECT id, w,
      |               CASE WHEN i = 0 THEN w
      |                    ELSE concat(substr(w, 1, i - 1), substr(w, i + 1, 100)) END AS variant
      |        FROM v JOIN (SELECT unnest(range(0, 31)) AS i) n ON n.i <= len(w)),
      |cand AS (SELECT DISTINCT a.id AS id1, a.w AS w1, b.id AS id2, b.w AS w2
      |         FROM del a JOIN del b ON a.variant = b.variant AND a.id < b.id)
      |SELECT id1, id2, w1, w2
      |FROM cand WHERE levenshtein(w1, w2) <= 1
      |ORDER BY id1, id2""".stripMargin,
  ) { (spark, dir) =>
    typoCandidates(Tables.customer(spark, dir))
      .filter(levenshtein($"w1", $"w2") <= 1)
      .select($"id1", $"id2", $"w1", $"w2")
      .orderBy($"id1", $"id2")
  }

  /** The SymSpell deletion-variant candidate pairs — extracted so
    * [[typoPairStats]] counts EXACTLY the pairs the verify stage sees.
    *
    * Round-18 (guide §2.3/§8 — decide on a lightweight proxy, attach the
    * payload once): whether two customers are candidates depends ONLY on
    * their NAME strings (sharing a deletion variant is a predicate on the
    * two names), and the scale-up corpus duplicates each name across key-
    * shifted copies — so the variant self-join now runs over DISTINCT
    * NAMES and the id pairs are expanded afterwards. Exactness: id → name
    * is functional, so a candidate id pair (a<b) maps to exactly ONE
    * unordered name pair {name(a), name(b)} and is emitted exactly once —
    * by the cross-name expansion when the names differ, by the same-name
    * clique when they are equal (equal names share every variant; i = 0
    * alone proves candidacy). The frame is therefore distinct BY
    * CONSTRUCTION and the old 100M-row id-pair DISTINCT (the sf1
    * rehearsal's dominant exchange) disappears; the variant join's output
    * shrinks from Σ(ids per variant)² to Σ(names per variant)² rows —
    * invariant under corpus replication. `TextWitnesses.typoCandidatesIdJoin`
    * (test sources) keeps the id-level form as the A/B witness (spec-pinned on a duplicated-
    * name corpus, since the graded SFs have unique names). */
  private[graft] def typoCandidates(customer: DataFrame): DataFrame = {
    val v = graft.Caches.persist(
      customer.select($"c_custkey".as("id"), $"c_name".as("w")))
    val names = graft.Caches.persist(
      v.groupBy($"w").agg(count(lit(1)).as("cnt")))
    // Also round-18: DISTINCT (w, variant) before the self-join —
    // deleting any position inside a run of equal characters yields the
    // same variant, and each duplicate row multiplies the join output
    // before the pair-distinct can absorb it.
    val del = names
      .select($"w", explode(sequence(lit(0), lit(30))).as("i"))
      .filter($"i" <= length($"w"))
      .select($"w",
        expr("""CASE WHEN i = 0 THEN w
               ELSE concat(substring(w, 1, i - 1), substring(w, i + 1, 100)) END""")
          .as("variant"))
      .distinct()
    val namePairs = del.as("a")
      .join(del.as("b"), $"a.variant" === $"b.variant" && $"a.w" < $"b.w")
      .select($"a.w".as("wa"), $"b.w".as("wb"))
      .distinct()
    // Cross-name expansion: every (ia ∈ ids(wa)) × (ib ∈ ids(wb)) is one
    // candidate pair, ordered by id. AQE broadcasts v at bench scale; at
    // corpus scale these are ordinary keyed joins of a name-pair frame
    // that replication cannot grow.
    val cross = namePairs
      .join(v.select($"w".as("wa"), $"id".as("ia")), "wa")
      .join(v.select($"w".as("wb"), $"id".as("ib")), "wb")
      .select(
        least($"ia", $"ib").as("id1"),
        when($"ia" < $"ib", $"wa").otherwise($"wb").as("w1"),
        greatest($"ia", $"ib").as("id2"),
        when($"ia" < $"ib", $"wb").otherwise($"wa").as("w2"))
    // Same-name cliques: all id pairs within a duplicated name.
    val dupIds = v.join(names.filter($"cnt" >= 2).select($"w"), "w")
    val clique = dupIds.as("x")
      .join(dupIds.as("y"), $"x.w" === $"y.w" && $"x.id" < $"y.id")
      .select($"x.id".as("id1"), $"x.w".as("w1"),
        $"y.id".as("id2"), $"y.w".as("w2"))
    cross.unionAll(clique).select($"id1", $"w1", $"id2", $"w2")
  }

  /** Pair-density instrumentation for the SymSpell blocking lane
    * (round-12 verdict item 3, same shape as
    * `llm_neardup_pair_stats`): distinct variant-collision candidate
    * pairs vs ED≤1-verified pairs, so a scale rehearsal can tell
    * output growth (both counts grow together under replication) from
    * a blocking regression (candidates explode alone). The oracle
    * replays the ENGINE's deletion-variant blocking verbatim. */
  val typoPairStats: QueryDef = QueryDef(
    "dq_typo_pair_stats",
    """WITH v AS (SELECT c_custkey AS id, c_name AS w FROM customer),
      |del AS (SELECT id, w,
      |               CASE WHEN i = 0 THEN w
      |                    ELSE concat(substr(w, 1, i - 1), substr(w, i + 1, 100)) END AS variant
      |        FROM v JOIN (SELECT unnest(range(0, 31)) AS i) n ON n.i <= len(w)),
      |cand AS (SELECT DISTINCT a.id AS id1, a.w AS w1, b.id AS id2, b.w AS w2
      |         FROM del a JOIN del b ON a.variant = b.variant AND a.id < b.id)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
      |       (SELECT CAST(count(*) AS BIGINT) FROM cand
      |        WHERE levenshtein(w1, w2) <= 1) AS n_pairs""".stripMargin,
  ) { (spark, dir) =>
    val cand = graft.Caches.persist(typoCandidates(Tables.customer(spark, dir)))
    LlmTextOps.pairStats(cand, cand.filter(levenshtein($"w1", $"w2") <= 1))
  }

  /** Approximate FUNCTIONAL-DEPENDENCY mining over a fixed candidate set —
    * schema profiling's "which columns determine which": for each A→B the
    * g₃ error (Kivinen & Mannila 1995: minimum rows to delete so the FD
    * holds exactly = n − Σ_A max_B count) and its confidence in ppm. The
    * o_orderkey→o_orderpriority candidate is a REAL key dependency, so its
    * zero-violation row pins the math; the rest measure how far each
    * plausible dependency is from holding.
    *
    * Scale shape per candidate: one (A,B) count aggregate then an A-keyed
    * max — two map-side-combinable shuffles of two narrow columns; the six
    * candidates union into one frame. At 100 TB you'd run the same plan
    * per candidate pair; nothing is quadratic in rows. */
  val fdMine: QueryDef = {
    val cands = Seq(
      ("orders", "o_orderkey", "o_orderpriority"),
      ("orders", "o_custkey", "o_orderpriority"),
      ("customer", "c_nationkey", "c_mktsegment"),
      ("lineitem", "l_orderkey", "l_returnflag"),
      ("lineitem", "l_partkey", "l_suppkey"),
      ("part", "p_brand", "p_type"))
    val sql = cands.map { case (t, a, b) =>
      s"""SELECT '$t' AS tbl, '$a' AS det, '$b' AS dep,
         |       CAST(sum(tot) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_groups,
         |       CAST(sum(tot - keep) AS BIGINT) AS g3_violations,
         |       CAST(sum(keep) * 1000000 // sum(tot) AS BIGINT) AS confidence_ppm
         |FROM (SELECT a, sum(n) AS tot, max(n) AS keep
         |      FROM (SELECT $a AS a, $b AS b, CAST(count(*) AS BIGINT) AS n
         |            FROM $t GROUP BY 1, 2) c
         |      GROUP BY a) g""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY tbl, det, dep"
    QueryDef("dq_fd_mine", sql) { (spark, dir) =>
      cands.map { case (t, a, b) =>
        val c = Tables.load(spark, dir, t)
          .groupBy(col(a).as("a"), col(b).as("b"))
          .agg(count(lit(1)).as("n"))
        c.groupBy($"a").agg(sum($"n").as("tot"), max($"n").as("keep"))
          .agg(sum($"tot").as("sum_tot"), count(lit(1)).as("n_groups"),
            sum($"tot" - $"keep").as("g3"), sum($"keep").as("sum_keep"))
          .select(lit(t).as("tbl"), lit(a).as("det"), lit(b).as("dep"),
            $"sum_tot".as("n_rows"), $"n_groups",
            $"g3".as("g3_violations"),
            expr("sum_keep * 1000000 DIV sum_tot").as("confidence_ppm"))
      }.reduce(_ unionAll _).orderBy($"tbl", $"det", $"dep")
    }
  }

  /** Declarative VALIDATION-RULE engine: a fixed rule set (range checks,
    * sign checks, and one cross-table temporal consistency rule — lineitem
    * must not ship before its order date), each evaluated as a predicate
    * aggregate, results unioned into one audit frame. The shape a data
    * contract runs on every load: per-rule checked/violation counts, pass
    * flag, one pass per table (the temporal rule rides an orderkey-keyed
    * join). The range/domain rules pin zero violations on this data
    * ([[pkUnique]]'s tripwire design) — while the temporal rule actually
    * FIRES: the synthetic generator draws shipdate independently of
    * orderdate, and the engine catching that is the point of the op. */
  val ruleCheck: QueryDef = {
    // (rule name, FROM clause, violation predicate)
    val rules = Seq(
      ("li_ship_after_order",
        "lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey",
        "l.l_shipdate < o.o_orderdate"),
      ("li_discount_range", "lineitem", "l_discount < 0 OR l_discount > 0.1"),
      ("li_quantity_positive", "lineitem", "l_quantity <= 0"),
      ("li_tax_nonnegative", "lineitem", "l_tax < 0"),
      ("ord_price_positive", "orders", "o_totalprice <= 0"),
      ("cust_segment_known",
        "customer",
        "c_mktsegment NOT IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY')"))
    val sql = rules.map { case (name, from, viol) =>
      s"""SELECT '$name' AS rule, CAST(count(*) AS BIGINT) AS n_checked,
         |       CAST(sum(CASE WHEN $viol THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
         |       CAST(CASE WHEN sum(CASE WHEN $viol THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT) AS passes
         |FROM $from""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY rule"
    QueryDef("dq_rule_check", sql) { (spark, dir) =>
      def audit(name: String, df: DataFrame, viol: Column) =
        df.agg(count(lit(1)).as("n_checked"),
            sum(when(viol, 1L).otherwise(0L)).as("n_violations"))
          .select(lit(name).as("rule"), $"n_checked", $"n_violations",
            when($"n_violations" === 0, 1L).otherwise(0L).as("passes"))
      val li = Tables.lineitem(spark, dir)
      val o = Tables.orders(spark, dir)
      Seq(
        audit("li_ship_after_order",
          li.join(o, $"l_orderkey" === $"o_orderkey"),
          $"l_shipdate" < $"o_orderdate"),
        audit("li_discount_range", li,
          $"l_discount" < 0 || $"l_discount" > 0.1),
        audit("li_quantity_positive", li, $"l_quantity" <= 0),
        audit("li_tax_nonnegative", li, $"l_tax" < 0),
        audit("ord_price_positive", o, $"o_totalprice" <= 0),
        audit("cust_segment_known", Tables.customer(spark, dir),
          !$"c_mktsegment".isin("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY")),
      ).reduce(_ unionAll _).orderBy($"rule")
    }
  }

  /** Neighborhood width for [[snmPairs]] — each record is compared to the
    * w−1 records on either side of it in sort order. */
  private val SnmW = 5

  /** Sorted-neighborhood dedup blocking (Hernández & Stolfo 1995): sort
    * the records on a fuzzy key (account balance in exact cents, custkey
    * tiebreak), then compare only records within a fixed window of
    * [[SnmW]] sort positions — O(n·w) candidates instead of the quadratic
    * compare, and the THIRD blocking strategy in the ER suite next to the
    * SymSpell deletion variants ([[typoPairs]]) and the FS attribute
    * blocks ([[recordLinkage]]): SNM catches near-misses on a CONTINUOUS
    * key, where equality-based blocks split neighbors that straddle a
    * bucket boundary. Verified pairs = same nation and balance within $1.
    *
    * Scale shape: the global sort position comes from
    * [[ParallelRank.withGlobalRank]] (range shuffle + partition-parallel
    * window — no single-partition exchange anywhere), and the window
    * self-join is an equi-join on `rank DIV w`: the left side emits each
    * row into its own block and the next, the right side stays home, so a
    * pair at rank distance < w shares exactly one join key. Candidates
    * are n·(w−1) at any scale; nothing quadratic.
    *
    * Determinism: the sort key (cents, custkey) is a total order, so
    * ranks — and therefore the candidate set — are engine-independent;
    * the oracle replays the plain global window form. */
  val snmPairs: QueryDef = QueryDef(
    "dq_snm_pairs",
    s"""WITH c AS (SELECT c_custkey, c_nationkey,
       |                  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
       |           FROM customer),
       |r AS (SELECT c_custkey, c_nationkey, cents,
       |             row_number() OVER (ORDER BY cents, c_custkey) AS rk
       |      FROM c)
       |SELECT a.c_custkey AS id1, b.c_custkey AS id2,
       |       CAST(b.rk - a.rk AS BIGINT) AS rank_gap,
       |       CAST(abs(a.cents - b.cents) AS BIGINT) AS cents_gap
       |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + ${SnmW - 1}
       |WHERE a.c_nationkey = b.c_nationkey AND abs(a.cents - b.cents) <= 100
       |ORDER BY id1, id2""".stripMargin,
  ) { (spark, dir) =>
    val c = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_nationkey",
        floor($"c_acctbal" * 100 + 0.5).cast("long").as("cents"))
    val r = ParallelRank.withGlobalRank(c, Seq($"cents", $"c_custkey"), "rk")
    val home = r.select($"c_custkey".as("id2"), $"c_nationkey".as("n2"),
      $"cents".as("cents2"), $"rk".as("rk2"),
      expr(s"rk DIV $SnmW").as("blk"))
    val probe = r.select($"c_custkey".as("id1"), $"c_nationkey".as("n1"),
        $"cents".as("cents1"), $"rk".as("rk1"),
        explode(array(expr(s"rk DIV $SnmW"), expr(s"rk DIV $SnmW") + 1))
          .as("blk"))
    probe.join(home, "blk")
      .filter($"rk2" > $"rk1" && $"rk2" <= $"rk1" + (SnmW - 1) &&
        $"n1" === $"n2" && abs($"cents1" - $"cents2") <= 100)
      .select($"id1", $"id2", ($"rk2" - $"rk1").as("rank_gap"),
        abs($"cents1" - $"cents2").as("cents_gap"))
      .orderBy($"id1", $"id2")
  }

  /** Fellegi–Sunter record-linkage scoring (1969) over multi-pass blocked
    * candidates: pass A blocks on (nation, segment, $500 balance bucket),
    * pass B on the 3-digit name suffix — the Hernández–Stolfo multi-pass
    * answer to any single block key splitting true matches. Every
    * candidate pair is scored by summing per-field agreement/disagreement
    * weights (fixed integer centi-bans, the scaled log-likelihood ratios
    * a production FS model would EM-fit) and classified by the two
    * standard thresholds into match / possible / non_match. Output is the
    * score histogram with its class labels — the calibration readout an
    * ER pipeline tunes thresholds on.
    *
    * Scale shape: candidates come only from block-keyed equi-joins
    * (Σ block² pairs, never n²); scoring is map-side arithmetic on the
    * joined row; the histogram is a bounded-domain aggregate. At 100 TB
    * the block keys get finer (more balance buckets, longer suffixes) to
    * hold block sizes constant — the knob is the key, the plan is fixed.
    *
    * Determinism: all-integer weights on exact-cents comparisons; the
    * DISTINCT union dedups pairs found by both passes. */
  /** The multi-pass blocked candidate pairs of [[recordLinkage]] with
    * their Fellegi–Sunter scores — extracted so [[goldenRecord]] clusters
    * the SAME match set the histogram reports. */
  private[graft] def linkageScores(customer: DataFrame): DataFrame = {
    val c = customer.select(
      $"c_custkey".as("id"), $"c_nationkey".as("nat"),
      $"c_mktsegment".as("seg"),
      floor($"c_acctbal" * 100 + 0.5).cast("long").as("cents"),
      substring($"c_name", 16, 3).as("sfx"))
    val pa = c.as("a").join(c.as("b"),
      $"a.nat" === $"b.nat" && $"a.seg" === $"b.seg" &&
        expr("a.cents DIV 50000") === expr("b.cents DIV 50000") &&
        $"a.id" < $"b.id")
      .select($"a.id".as("i"), $"b.id".as("j"))
    val pb = c.as("a").join(c.as("b"),
        $"a.sfx" === $"b.sfx" && $"a.id" < $"b.id")
      .select($"a.id".as("i"), $"b.id".as("j"))
    pa.unionAll(pb).distinct()
      .join(c.select($"id".as("i"), $"nat".as("na"), $"seg".as("sa"),
        $"cents".as("ca"), $"sfx".as("fa")), "i")
      .join(c.select($"id".as("j"), $"nat".as("nb"), $"seg".as("sb"),
        $"cents".as("cb"), $"sfx".as("fb")), "j")
      .select($"i", $"j", (
        when(abs($"ca" - $"cb") <= 100, 30).otherwise(-5)
          + when($"fa" === $"fb", 25).otherwise(-3)
          + when($"sa" === $"sb", 8).otherwise(-12)
          + when($"na" === $"nb", 10).otherwise(-15)).cast("long").as("score"))
  }

  /** Shared CTE prefix deriving the scored candidate pairs (`sc`: i, j,
    * score) — the SQL twin of [[linkageScores]]. */
  private val linkageSql =
    """c AS (SELECT c_custkey AS id, c_nationkey AS nat,
      |             c_mktsegment AS seg,
      |             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
      |             substr(c_name, 16, 3) AS sfx
      |      FROM customer),
      |pa AS (SELECT a.id AS i, b.id AS j FROM c a JOIN c b
      |       ON a.nat = b.nat AND a.seg = b.seg
      |          AND a.cents // 50000 = b.cents // 50000 AND a.id < b.id),
      |pb AS (SELECT a.id AS i, b.id AS j FROM c a JOIN c b
      |       ON a.sfx = b.sfx AND a.id < b.id),
      |cand AS (SELECT DISTINCT i, j FROM (SELECT * FROM pa UNION ALL SELECT * FROM pb)),
      |sc AS (SELECT cand.i, cand.j,
      |              CAST(CASE WHEN abs(a.cents - b.cents) <= 100 THEN 30 ELSE -5 END
      |               + CASE WHEN a.sfx = b.sfx THEN 25 ELSE -3 END
      |               + CASE WHEN a.seg = b.seg THEN 8 ELSE -12 END
      |               + CASE WHEN a.nat = b.nat THEN 10 ELSE -15 END AS BIGINT) AS score
      |       FROM cand JOIN c a ON a.id = cand.i JOIN c b ON b.id = cand.j)""".stripMargin

  val recordLinkage: QueryDef = QueryDef(
    "dq_record_linkage",
    s"""WITH $linkageSql
       |SELECT score,
       |       CASE WHEN score >= 35 THEN 'match'
       |            WHEN score >= 10 THEN 'possible' ELSE 'non_match' END AS cls,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM sc GROUP BY score ORDER BY score""".stripMargin,
  ) { (spark, dir) =>
    linkageScores(Tables.customer(spark, dir))
      .groupBy($"score")
      .agg(count(lit(1)).as("n_pairs"))
      .select($"score",
        when($"score" >= 35, "match")
          .when($"score" >= 10, "possible")
          .otherwise("non_match").as("cls"),
        $"n_pairs")
      .orderBy($"score")
  }

  /** SURVIVORSHIP / golden-record construction — the step AFTER record
    * linkage: the `score ≥ 35` matches of [[recordLinkage]] resolve into
    * entity clusters (large-star/small-star, the dedup-lane resolver on
    * its third registered surface), and each cluster emits ONE merged
    * record under explicit survivorship rules — representative key = MIN
    * member (stable), balance = MAX over members (most-favorable-value
    * rule), descriptive attributes from the representative. Unmatched
    * customers pass through as their own golden record, so the output is
    * a complete deduplicated master table.
    *
    * Scale shape: the match graph is the (tiny) top of the FS score
    * distribution — star contraction on it is O(log n) rounds of
    * edge-keyed aggregates; the merge itself is one cluster-keyed
    * aggregate plus a broadcast-sized rep-attribute join.
    *
    * Determinism: min/max survivorship over integer keys/cents; the
    * oracle replays membership as the usual transitive-closure CTE. */
  val goldenRecord: QueryDef = QueryDef(
    "dq_golden_record",
    s"""WITH RECURSIVE $linkageSql,
       |mp AS (SELECT i, j FROM sc WHERE score >= 35),
       |e AS (SELECT i AS a, j AS b FROM mp UNION ALL SELECT j, i FROM mp),
       |reach AS (SELECT id, id AS r FROM c
       |          UNION
       |          SELECT e.b AS id, reach.r FROM reach JOIN e ON e.a = reach.id),
       |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |g AS (SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |             CAST(min(l.id) AS BIGINT) AS rep_key,
       |             CAST(max(c.cents) AS BIGINT) AS best_bal_cents
       |      FROM lbl l JOIN c ON c.id = l.id GROUP BY 1)
       |SELECT g.cluster_id, g.n_members, g.rep_key, g.best_bal_cents,
       |       rc.seg AS rep_segment, CAST(rc.nat AS BIGINT) AS rep_nation
       |FROM g JOIN c rc ON rc.id = g.rep_key
       |ORDER BY g.cluster_id""".stripMargin,
  ) { (spark, dir) =>
    val cust = Tables.customer(spark, dir)
    val matches = linkageScores(cust).filter($"score" >= 35)
      .select($"i".as("doc_a"), $"j".as("doc_b"))
    val clusters = LlmTextOps.clusterLsOf(
      matches, cust.select($"c_custkey".as("doc_id")))
    val attrs = cust.select($"c_custkey".as("doc_id"),
      floor($"c_acctbal" * 100 + 0.5).cast("long").as("cents"),
      $"c_mktsegment".as("seg"), $"c_nationkey".cast("long").as("nat"))
    val g = clusters.join(attrs, "doc_id")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"), min($"doc_id").as("rep_key"),
        max($"cents").as("best_bal_cents"))
    g.join(attrs.select($"doc_id".as("rep_key"), $"seg".as("rep_segment"),
        $"nat".as("rep_nation")), "rep_key")
      .select($"cluster_id", $"n_members", $"rep_key", $"best_bal_cents",
        $"rep_segment", $"rep_nation")
      .orderBy($"cluster_id")
  }

  val all: Seq[QueryDef] =
    Seq(pkUnique, fkOrphans, snapshotDiff, psiDrift, kAnonymity,
      lDiversity, tCloseness, scd2Build, scd2Lookup, benford, typoPairs,
      typoPairStats,
      fdMine, ruleCheck, snmPairs, recordLinkage, goldenRecord)
}
