package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Scope isolation for the persist registry: one runner's release must
  * never evict a concurrently-running runner's blocks (the process-global
  * registry defect from the round-5 verdict). Plus the checkpoint contract
  * every checkpointing form shares: same rows, a stat-less leaf, and no
  * blocks left behind once released. */
class CachesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a concurrent runner's release() does not evict this runner's persists") {
    val dfA = spark.range(0, 1000).toDF("v")
    Caches.persist(dfA)
    dfA.count() // materialize A's blocks

    @volatile var bReleasedItsOwn = false
    val runnerB = new Thread(() => {
      val dfB = spark.range(0, 500).toDF("w")
      Caches.persist(dfB)
      dfB.count()
      Caches.release() // B releases — must only touch B's registrations
      bReleasedItsOwn = dfB.storageLevel == StorageLevel.NONE
    })
    runnerB.start()
    runnerB.join()

    assert(bReleasedItsOwn, "runner B's own persist was not released")
    assert(dfA.storageLevel != StorageLevel.NONE,
      "runner B's release evicted runner A's persist (scope leak)")
    Caches.release()
    assert(dfA.storageLevel == StorageLevel.NONE,
      "runner A's own release did not drop its persist")
  }

  test("memo computes once per key, survives release(), rebuilds on key change") {
    var builds = 0
    def build() = { builds += 1; spark.range(0, 10).toDF("v") }
    val a = Caches.memo("caches-spec-memo", "k1")(build())
    assert(builds == 1)
    assert(a.count() == 10)
    Caches.release() // the per-query release must NOT drop the memo
    val b = Caches.memo("caches-spec-memo", "k1")(build())
    assert(builds == 1, "same key must reuse, not rebuild")
    assert(b.count() == 10, "memoized frame must stay readable after release()")
    val c = Caches.memo("caches-spec-memo", "k2")(build())
    assert(builds == 2, "key change must rebuild")
    assert(c.count() == 10)
    // intra-build persists are scoped: they release when the build ends
    val inner = spark.range(0, 5).toDF("w")
    Caches.memo("caches-spec-memo2", "k") {
      Caches.persist(inner); inner.count(); inner
    }
    assert(inner.storageLevel == StorageLevel.NONE,
      "memo build scope did not release the construction's persist")
  }

  test("scoped {} releases only its own registrations, even nested") {
    val outer = spark.range(0, 100).toDF("v")
    Caches.persist(outer)
    val inner = Caches.scoped {
      val df = spark.range(0, 50).toDF("w")
      Caches.persist(df)
      df.count()
      df
    }
    assert(inner.storageLevel == StorageLevel.NONE,
      "scoped block exit did not release its registration")
    assert(outer.storageLevel != StorageLevel.NONE,
      "scoped block exit evicted an outer-scope persist")
    Caches.release()
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The input: 1000 BIGINT rows v = 0..999 over 4 partitions. */
  private def input: DataFrame = spark.range(0, 1000, 1, 4).toDF("v")

  private def assertContract(form: String, df: DataFrame): Unit = {
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1000L),
      s"$form does not return the input's rows")
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(SQLConf.get.defaultSizeInBytes),
      s"$form's leaf carries statistics (origin stats not stripped)")
  }

  test("every checkpoint form keeps the rows, drops the stats and frees its blocks") {
    Caches.release()
    val baseline = persistedIds
    def leaked: Set[Int] = persistedIds -- baseline -- Caches.memoRddIds
    val forms: Seq[(String, () => DataFrame)] = Seq(
      "localCheckpoint" -> (() => Caches.localCheckpoint(input)),
      "localCheckpointCount" -> (() => {
        val (df, n) = Caches.localCheckpointCount(input)
        assert(n == 1000L, s"localCheckpointCount counted $n rows")
        df
      }),
      "localCheckpointCountSum" -> (() => {
        val (df, n, s) = Caches.localCheckpointCountSum(input, "v")
        assert(n == 1000L, s"localCheckpointCountSum counted $n rows")
        assert(s == 499500L, s"localCheckpointCountSum summed $s")
        df
      }))
    forms.foreach { case (form, make) =>
      val df = make()
      assert(leaked.nonEmpty, s"$form persisted no checkpoint RDD")
      assertContract(form, df)
      Caches.release()
      assert(leaked.isEmpty, s"$form left persisted RDDs after release(): $leaked")
    }

    val a = Caches.memo("caches-spec-contract", "k1")(input)
    val aIds = Caches.memoRddIds -- baseline
    assert(aIds.nonEmpty && aIds.subsetOf(persistedIds),
      "memo frame is not backed by a tracked persisted RDD")
    assertContract("memo", a)
    Caches.release()
    assert(aIds.subsetOf(persistedIds), "release() dropped a live memo frame")
    assert(leaked.isEmpty, s"memo build left untracked persisted RDDs: $leaked")
    Caches.memo("caches-spec-contract", "k2")(input)
    assert((aIds & persistedIds).isEmpty,
      s"key change left the stale memo's RDDs persisted: ${aIds & persistedIds}")
    assert(leaked.isEmpty, s"memo rebuild left untracked persisted RDDs: $leaked")
  }
}
