package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // One shared session for the whole test run; tests only read testdata.
  lazy val spark: SparkSession = Sessions.local("4")
}

class TpchOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every registered query runs and returns a stable schema") {
    // each lane runs under its own Try, so one failing lane cannot hide the
    // rest: the assertion names every lane that threw or returned no columns
    val failing = SparkEntry.defs.flatMap { d =>
      Try {
        val df = d.run(spark, sf)
        assert(df.columns.nonEmpty, "no columns")
        assert(df.count() >= 0, "count failed")
      } match {
        case Success(_) => None
        case Failure(e) => Some(s"${d.name}: $e")
      }
    }
    assert(failing.isEmpty,
      s"${failing.size} lanes failed:\n${failing.mkString("\n")}")
  }

  test("every oracle references at least one known table") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val lower = sql.toLowerCase
      assert(tables.exists(lower.contains), s"$name oracle references no known table")
    }
  }

  test("entry (flagship redshift_q1) returns rows, most recent first") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 10)
    // testdata timestamps are parquet isAdjustedToUTC=false → TIMESTAMP_NTZ
    // in Spark 4, surfaced as java.time.LocalDateTime in Rows.
    val dates = rows.map(_.getAs[java.time.LocalDateTime](2))
    assert(dates.sliding(2).forall(p => !p(0).isBefore(p(1))), "not sorted desc by o_orderdate")
  }

  test("redshift_q2 restricts to the single largest market segment") {
    val df = ops.TpchOps.redshiftQ2.run(spark, sf)
    assert(df.count() > 0)
  }

  test("rds_q3 keeps customers with no matching order (left-join semantics)") {
    val df = ops.TpchOps.rdsQ3.run(spark, sf)
    val withNull = df.filter(df("o_orderkey").isNull).count()
    assert(withNull > 0, "expected BUILDING customers without an order on the literal date")
  }

  test("queries and oracleSql keys line up") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("correlated EXISTS equals the hand-built semi/anti join composition") {
    import org.apache.spark.sql.functions.col
    val got = ops.SqlOps.existsCorrelated.run(spark, sf).collect()
      .map(_.getLong(0)).toSeq
    val orders = io.Tables.orders(spark, sf)
    val want = io.Tables.customer(spark, sf)
      .join(orders.filter(col("o_totalprice") > 400000)
        .select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_semi")
      .join(orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("uk")), col("c_custkey") === col("uk"), "left_anti")
      .select(col("c_custkey")).orderBy(col("c_custkey"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == want && got.nonEmpty, s"${got.size} vs ${want.size}")
  }

  test("correlated scalar subqueries match a groupBy recompute; empty gives 0/NULL") {
    import org.apache.spark.sql.functions.{col, count, max, round => rnd}
    val rows = ops.SqlOps.scalarCorrelated.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[java.lang.Double]("max_order")))).toSeq
    val want = io.Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(count(col("*")).as("n"), rnd(max(col("o_totalprice")), 2).as("m"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.length == io.Tables.customer(spark, sf).count())
    rows.foreach { case (ck, n, m) =>
      want.get(ck) match {
        case Some((wn, wm)) => assert(n == wn && m.contains(wm), s"customer $ck")
        case None => assert(n == 0L && m.isEmpty, s"orderless $ck gives 0/NULL")
      }
    }
    // the empty-correlation edge, pinned on a fixture (every testdata
    // customer has orders, so the edge can't be observed on real data)
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    Seq((1L, 10.0), (1L, 20.0)).toDF("k", "v").createOrReplaceTempView("t_fix_o")
    Seq(Tuple1(1L), Tuple1(2L)).toDF("k").createOrReplaceTempView("t_fix_c")
    val fix = spark.sql(
      """SELECT c.k, (SELECT count(*) FROM t_fix_o o WHERE o.k = c.k) AS n,
        |       (SELECT max(v) FROM t_fix_o o WHERE o.k = c.k) AS m
        |FROM t_fix_c c ORDER BY c.k""".stripMargin).collect()
    assert(fix(0).getLong(1) == 2L && fix(0).getDouble(2) == 20.0)
    assert(fix(1).getLong(1) == 0L, "COUNT over empty correlation is 0")
    assert(fix(1).isNullAt(2), "MAX over empty correlation is NULL")
  }
}
