package graft

/** Epoch reshuffle plan: every epoch is a complete pass, shards are
  * hash-balanced, epoch-over-epoch placement is ≈independent
  * (stay_frac near 1/S), and epoch 0 has no predecessor.
  */
class EpochShardSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows =
    SparkEntry.queries("epoch_shard_plan")(spark, sfDir)
      .select("epoch", "shard", "n_docs", "stay_frac")
      .as[(Long, Long, Long, Option[Double])].collect()

  test("each epoch partitions the corpus exactly once") {
    val corpus = Tables.load(spark, sfDir, "documents").count()
    val perEpoch = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    assert(perEpoch.toMap.values.toSet == Set(corpus))
    assert(perEpoch.keySet == Set(0L, 1L, 2L))
  }

  test("shards are hash-balanced within a loose band") {
    val corpus = rows.filter(_._1 == 0L).map(_._3).sum.toDouble
    rows.foreach { case (e, sh, n, _) =>
      assert(n > corpus / 8 * 0.4 && n < corpus / 8 * 2.0,
        s"epoch $e shard $sh holds $n of $corpus")
    }
  }

  test("stay_frac is null at epoch 0 and near 1/S after") {
    rows.filter(_._1 == 0L).foreach { r => assert(r._4.isEmpty) }
    val later = rows.filter(_._1 > 0L).flatMap(_._4)
    assert(later.nonEmpty)
    // weighted mean across shards ~ 1/8; individual shards are noisy
    // at 500 docs so pin the aggregate, band the individuals
    later.foreach(f => assert(f >= 0.0 && f <= 0.45, s"stay_frac $f"))
    val all = rows.filter(_._1 > 0L)
    val mean = all.map(r => r._4.get * r._3).sum / all.map(_._3).sum
    assert(mean > 0.05 && mean < 0.22, s"mean stay_frac $mean vs 1/8")
  }
}
