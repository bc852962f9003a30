package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The queryable-state contract the reference exposes through
  * QueryableStateClient: point lookups by key against LIVE state —
  * queries issued mid-stream observe the state committed so far, a
  * later query observes the updated state, and unknown keys miss.
  */
class QueryableStateSpec extends SparkSpec {

  test("mid-stream point lookups see committed state, then its update") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val state = in.toDF().toDF("k", "v")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("sum_v"))
    val store = QueryableState.asQueryableState(spark, "qstate_spec", state)
    try {
      in.addData((1L, 1.5), (1L, 2.0), (2L, 10.0))
      store.processAllAvailable()
      val r1 = store.get("k", 1L).get
      assert(r1.getAs[Long]("n") == 2 && r1.getAs[Double]("sum_v") == 3.5)
      assert(store.get("k", 99L).isEmpty, "unknown key must miss")

      // state advances: a second batch updates key 1 and adds key 3
      in.addData((1L, 0.5), (3L, 7.0))
      store.processAllAvailable()
      val r2 = store.get("k", 1L).get
      assert(r2.getAs[Long]("n") == 3 && r2.getAs[Double]("sum_v") == 4.0)
      assert(store.get("k", 3L).get.getAs[Long]("n") == 1)
      assert(store.snapshot().count() == 3, "one state row per key")
    } finally store.stop()
  }

  test("q168 leaves no cached plan behind once its serving query stops") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val q168 = graft.Registry.all.find(_.name == "q168_queryable_state").get
    assert(q168.fn(spark, sf).count() > 0)
    // a cached snapshot would stay pinned for every later query of the
    // session
    assert(cache.isEmpty, "q168 registered its snapshot with the CacheManager")
  }

  test("canonKey gives array-typed keys structural equality") {
    // Array[Byte] (a binary key column) compares by reference — the
    // duplicate-key early-flush must see repeats by VALUE
    val a1 = Array[Byte](1, 2, 3)
    val a2 = Array[Byte](1, 2, 3)
    assert(a1 != a2, "precondition: raw arrays compare by reference")
    assert(QueryableState.canonKey(a1) == QueryableState.canonKey(a2))
    assert(QueryableState.canonKey(a1) !=
      QueryableState.canonKey(Array[Byte](1, 2, 4)))
    // nested arrays (array<array<int>> keys) and scalars
    assert(QueryableState.canonKey(Array(Array(1, 2), Array(3))) ==
      QueryableState.canonKey(Array(Array(1, 2), Array(3))))
    assert(QueryableState.canonKey(42L) == 42L)
    assert(QueryableState.canonKey("k") == "k")
    // Seq keys (WrappedArray from Spark array columns) canonicalize
    // to the same form as the equivalent raw array
    assert(QueryableState.canonKey(Seq(1, 2)) ==
      QueryableState.canonKey(Array(1, 2)))
  }
}
