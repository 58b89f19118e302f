package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Text
import graft.streaming.ConformalGateStream
import graft.streaming.ConformalGateStream.GateObs

/** Streaming conformal gate: the sketched threshold lands within the
  * KLL rank-error bar of the exact calibration order statistic, the
  * audit counters replay exactly, and state stays bounded.
  */
class ConformalGateStreamSpec extends SparkSpec {
  import spark.implicits._

  private val Q = 0.1
  private val K = 64

  test("threshold within errBound ranks of the exact order statistic; audit counters exact") {
    val scored = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        round(Text.qualityScore(col("text")), 6).as("reward"))
    val obs = scored
      .select((pmod(col("doc_id"), lit(2)) === 1).cast("int").as("side"),
        col("reward"), col("doc_id"))
      .as[(Int, Double, Long)].collect().toSeq.sortBy(_._3)
      .map { case (s, r, _) => GateObs("g", s, r) }

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[GateObs]
    val name = s"gate_${System.nanoTime()}"
    val qy = ConformalGateStream.conformalGateStream(mem.toDS(), K, Q)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    val (b1, rest) = obs.splitAt(obs.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val last = try {
      Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); qy.processAllAvailable() }
      val rows = spark.table(name).orderBy(col("version"))
        .as[(String, Long, Long, Double, Long, Long, Long)].collect()
      assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq,
        "version must be monotone")
      rows.last
    } finally qy.stop()
    val (_, _, nCalib, thr, errRank, nTest, nPass) = last

    val calib = obs.filter(_.side == 0).map(_.reward)
    assert(nCalib == calib.size)
    // sketch rank guarantee (with ties): the count of calibration
    // values strictly below / at-or-below the threshold brackets
    // q·n within errBound
    val target = Q * nCalib
    val cLt = calib.count(_ < thr).toDouble
    val cLe = calib.count(_ <= thr).toDouble
    assert(cLt <= target + errRank + 1,
      s"threshold too high: $cLt below thr vs target $target ± $errRank")
    assert(cLe >= target - errRank - 1,
      s"threshold too low: $cLe at-or-below thr vs target $target ± $errRank")

    // the audit is exact GIVEN the (batch-boundary-dependent)
    // thresholds: replay the same batch split with the same
    // per-batch thresholds and the counters must match exactly
    val buf = new graft.expressions.KllBuf()
    var expTest = 0L
    var expPass = 0L
    Seq(b1, b2, b3).foreach { b =>
      b.foreach(o => if (o.side == 0)
        graft.expressions.Kll.insert(buf, K, o.reward))
      val t = if (buf.n == 0) Double.NegativeInfinity
              else graft.expressions.Kll.estimates(buf, Seq(Q))(0)
      // cold start: test rows before the first calibration row are
      // not audited (mirrors the operator's ADVICE-r9 contract)
      if (buf.n > 0) b.foreach { o =>
        if (o.side != 0) { expTest += 1; if (o.reward >= t) expPass += 1 }
      }
    }
    assert(nTest == expTest && nPass == expPass,
      s"audit replay mismatch: stream ($nTest, $nPass) vs ($expTest, $expPass)")
    // the gate keeps roughly (1−q) of exchangeable traffic
    val rate = nPass.toDouble / nTest
    assert(rate >= 1 - Q - 0.1 && rate <= 1.0,
      s"coverage far from promise: $rate vs ${1 - Q}")
  }

  test("cold start: test rows before any calibration are not audited") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[GateObs]
    val name = s"gate_cold_${System.nanoTime()}"
    val qy = ConformalGateStream.conformalGateStream(mem.toDS(), K, Q)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      // batch 1: ONLY test traffic — no threshold exists yet
      mem.addData(GateObs("g", 1, 0.9), GateObs("g", 1, 0.1))
      qy.processAllAvailable()
      val r1 = spark.table(name).orderBy(col("version"))
        .as[(String, Long, Long, Double, Long, Long, Long)].collect().last
      assert(r1._3 == 0L, "no calibration absorbed yet")
      assert(r1._4.isNegInfinity, "cold threshold emits as -Infinity")
      assert(r1._6 == 0L && r1._7 == 0L,
        s"ungated traffic must not enter the audit: ${r1._6}/${r1._7}")
      // batch 2: calibration arrives; auditing starts THIS batch
      mem.addData(GateObs("g", 0, 0.5), GateObs("g", 1, 0.9),
        GateObs("g", 1, 0.1))
      qy.processAllAvailable()
      val r2 = spark.table(name).orderBy(col("version"))
        .as[(String, Long, Long, Double, Long, Long, Long)].collect().last
      assert(r2._3 == 1L && r2._6 == 2L,
        s"post-calibration traffic audits: n_calib=${r2._3} n_test=${r2._6}")
    } finally qy.stop()
  }
}
