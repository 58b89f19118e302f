package graft

import java.sql.Timestamp

/** orders_survival_km: hand-worked Kaplan–Meier values on a
  * constructed order log, plus the estimator's monotonicity
  * invariants on the real corpus.
  */
class SurvivalKmSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int) = Timestamp.valueOf(f"1995-01-${day + 1}%02d 00:00:00")

  test("hand-worked KM: censored gaps thin the risk set without stepping survival") {
    // cust 1: orders day 0, 10  → gap 10 (event), then censored 10
    // cust 2: orders day 0, 20  → gap 20 (event), then censored 0
    // cust 3: order  day 0      → censored 20 (the horizon is day 20)
    // risk sets: t=10 → 4 (the t=0 censored gap is out), t=20 → 2
    // S(10) = 1 − 1/4 = 0.75; S(20) = 0.75 · (1 − 1/2) = 0.375
    val tmp = java.nio.file.Files.createTempDirectory("km").toString
    Seq(
      (1L, 1L, ts(0)), (2L, 1L, ts(10)),
      (3L, 2L, ts(0)), (4L, 2L, ts(20)),
      (5L, 3L, ts(0)))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val rows = SparkEntry.queries("orders_survival_km")(spark, tmp)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.toSeq == Seq(
      (10L, 4L, 1L, 1L, 0.75),
      (20L, 2L, 1L, 1L, 0.375)), s"got ${rows.toSeq}")
  }

  test("on the corpus: survival and risk sets are monotone nonincreasing, survival in [0,1]") {
    val rows = SparkEntry.queries("orders_survival_km")(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length > 10)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 < a._2, s"risk set must shrink strictly between event times: $a -> $b")
      assert(b._5 <= a._5, s"survival must not increase: $a -> $b")
    }
    assert(rows.forall(r => r._5 >= 0.0 && r._5 <= 1.0))
    assert(rows.forall(r => r._3 > 0), "output rows are event times only")
  }
}
