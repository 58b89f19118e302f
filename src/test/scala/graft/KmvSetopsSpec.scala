package graft

/** sketch_kmv_setops invariants: exactness when the merged sketch is
  * complete (union < k ⇒ the sketch IS the set), and the error
  * envelope of the estimators on the real per-source pairs.
  */
class KmvSetopsSpec extends SparkSpec {
  import spark.implicits._

  private def run(dir: String) =
    SparkEntry.queries("sketch_kmv_setops")(spark, dir)

  test("estimates are exact when the merged sketch is complete (union < k)") {
    // two tiny sources whose trigram universes are far below k = 64:
    // the sketches are complete sets, so est == exact on every column
    val tmp = java.nio.file.Files.createTempDirectory("kmvsetops").toString
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox sleeps under the warm sun today"
    Seq(
      (0L, a, "en", "srcA", a.length.toLong),
      (1L, b, "en", "srcB", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = run(tmp).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("est_union") == r.getAs[Long]("exact_union"))
    assert(r.getAs[Long]("est_inter") == r.getAs[Long]("exact_inter"))
    assert(r.getAs[Long]("exact_inter") > 0L, "constructed overlap missing")
    assert(math.abs(r.getAs[Double]("est_jaccard") -
      r.getAs[Double]("exact_jaccard")) < 1e-6)
  }

  test("union and jaccard estimates sit inside the k=64 error envelope on the corpus") {
    val rows = run(sfDir).collect()
    assert(rows.nonEmpty)
    // KMV relative error 1/sqrt(k-2) ~ 0.127; allow 4 sigma
    rows.foreach { r =>
      val eu = r.getAs[Long]("est_union").toDouble
      val xu = r.getAs[Long]("exact_union").toDouble
      assert(math.abs(eu - xu) / xu < 0.51,
        s"union rel err ${math.abs(eu - xu) / xu} for ${r.getAs[String]("src_a")}-${r.getAs[String]("src_b")}")
      // jaccard estimator: binomial(k) noise + union-sketch noise
      val ej = r.getAs[Double]("est_jaccard")
      val xj = r.getAs[Double]("exact_jaccard")
      assert(math.abs(ej - xj) < 0.35, s"jaccard err ${math.abs(ej - xj)}")
    }
  }

  test("estimator sanity: est_inter <= est_union and jaccard in [0,1]") {
    run(sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("est_inter") <= r.getAs[Long]("est_union"))
      val j = r.getAs[Double]("est_jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }
}
