package graft

/** dedup_chain_audit on CONSTRUCTED corpora: the gated corpus's
  * clusters are all clean (sf0.01/sf0.1: every cluster chained=0), so
  * this spec is what exercises the detection paths.
  *
  * Chained case: a = block X, b = X ++ Y, c = Y — a shares X with b,
  * b shares Y with c, a and c share NOTHING. The CC cluster {a, b, c}
  * exists only by chaining; keep-one-per-cluster would delete a
  * document with similarity 0 to the survivor. The audit must report
  * min pairwise Jaccard 0 ⇒ chained=1 (the 0 comes through the
  * coalesce path: the a–c pair never reaches the shingle-hash join).
  * The banding of the a–b / b–c pairs (J ≈ 0.47 each) is a
  * deterministic function of these fixed texts and constants —
  * verified to fire for this token salt, pinned here.
  *
  * Clean control: two identical docs cluster at J = 1 ⇒ chained=0.
  */
class ChainAuditSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[(Long, String)]): Seq[(Long, Long, Long, Double)] = {
    val dir = java.nio.file.Files.createTempDirectory("chain").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries("dedup_chain_audit")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
  }

  test("a chained a~b~c cluster is flagged with min pairwise sim 0") {
    val x = (0 until 40).map(i => s"xa$i")
    val y = (0 until 40).map(i => s"ya$i")
    val out = run(Seq(
      1L -> x.mkString(" "),
      2L -> (x ++ y).mkString(" "),
      3L -> y.mkString(" ")))
    assert(out == Seq((3L, 1L, 1L, 0.0)),
      s"expected one chained 3-cluster: $out")
  }

  test("an exact-duplicate cluster is clean (chained=0, min sim 1)") {
    val t = (0 until 40).map(i => s"tok$i").mkString(" ")
    val out = run(Seq(1L -> t, 2L -> t))
    assert(out == Seq((2L, 0L, 1L, 1.0)),
      s"expected one clean 2-cluster: $out")
  }

  private def runDiam(rows: Seq[(Long, String)])
      : Seq[(Long, Long, Long, Long)] = {
    val dir = java.nio.file.Files.createTempDirectory("chaind").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries("dedup_chain_diameter")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
  }

  test("a sliding-window 5-doc chain has diameter 2 (the ends meet only " +
    "through the middle)") {
    // 64-token windows stepping 6 over one 88-token stream: exact
    // J(lag ℓ) = (60−6ℓ)/(60+6ℓ) → 0.818/0.667/0.538/0.429, so the
    // verified ≥0.5 edge set is lags 1..3 and the lag-4 end pair is
    // 2 hops apart. Adjacent pairs at J=0.818 band-collide with
    // near-certainty (1−(1−0.818⁴)¹⁶ ≈ 0.9999) — pinned for this
    // fixed token salt like the chain-audit corpus above.
    val t = (0 until 88).map(i => s"tk$i")
    val out = runDiam((0 until 5).map(i =>
      (i + 1).toLong -> t.slice(6 * i, 6 * i + 64).mkString(" ")))
    assert(out == Seq((5L, 2L, 0L, 1L)),
      s"expected one connected diameter-2 5-cluster: $out")
  }

  test("an exact-duplicate cluster has diameter 1; a zero-overlap chain " +
    "is disconnected at the threshold") {
    val t = (0 until 40).map(i => s"tok$i").mkString(" ")
    assert(runDiam(Seq(1L -> t, 2L -> t)) == Seq((2L, 1L, 0L, 1L)))
    // the chained X / X++Y / Y cluster: pairwise J ≈ 0.47 < 0.5 —
    // NO verified edge survives, the sample is disconnected
    val x = (0 until 40).map(i => s"xa$i")
    val y = (0 until 40).map(i => s"ya$i")
    val out = runDiam(Seq(
      1L -> x.mkString(" "),
      2L -> (x ++ y).mkString(" "),
      3L -> y.mkString(" ")))
    assert(out == Seq((3L, 0L, 1L, 1L)),
      s"expected one disconnected 3-cluster: $out")
  }
}
