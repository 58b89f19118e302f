package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.Similarity
import graft.streaming.SemDedupStream
import graft.streaming.SemDedupStream.{VecIn, VecVerdict}

/** Streaming semantic dedup: batch parity under micro-batch
  * re-slicing, arrival-order dominance across batches, capped state.
  */
class SemDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def vec(i: Long): Array[Double] = {
    val base = (i % 5).toInt
    Array.tabulate(6)(d =>
      (if (d == base) 1.0 else 0.04 * ((i + d) % 3)) + 0.002 * (i % 7))
  }

  private val cents: Seq[(Int, Array[Double])] =
    (0 until 4).map(c => c -> vec(c * 17))

  private def runStream(batches: Seq[Seq[VecIn]], minCos: Double,
                        maxState: Int = 4096, name: String)
      : Seq[VecVerdict] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[VecIn]
    val q = SemDedupStream.semDedupStream(mem.toDS(), cents, minCos, maxState)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    val rows = spark.sql(s"SELECT * FROM $name").as[VecVerdict]
      .collect().toSeq
    q.stop()
    rows
  }

  test("id-ordered stream reproduces batch semDedup flags under any slicing") {
    val n = 120L
    val rows = (0L until n).map(i => VecIn(i, vec(i).toSeq))
    val centDf = cents.map { case (c, e) => (c.toLong, e) }.toDF("cid", "cemb")
    val batch = Similarity.semDedup(
        rows.map(r => (r.vec_id, r.emb.toArray)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", centDf,
        minCos = 0.92, maxBlockSize = 1000, subPlanes = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    for (slice <- Seq(7, 31, 120)) {
      val streamed = runStream(rows.grouped(slice).toSeq, minCos = 0.92,
          name = s"semst$slice")
        .map(v => v.vec_id -> v.removed).toMap
      assert(streamed == batch,
        s"slice=$slice diff=${(streamed.toSet diff batch.toSet).take(5)}")
    }
    assert(batch.values.sum > 0 && batch.values.sum < n,
      "corpus must exercise both outcomes")
  }

  test("arrival order dominates across batches, not vec_id") {
    // the high-id vector arrives FIRST: the later low-id duplicate is
    // the removed one — semDedupIncremental's corpus-wins rule, where
    // batch semDedup would keep the lower id
    val e = vec(3)
    val out = runStream(
        Seq(Seq(VecIn(100L, e.toSeq)), Seq(VecIn(1L, e.toSeq))),
        minCos = 0.99, name = "semarr")
      .map(v => v.vec_id -> v.removed).toMap
    assert(out == Map(100L -> 0, 1L -> 1), s"got $out")
  }

  test("seen-set state survives a checkpointed restart") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("emb", ArrayType(DoubleType))))
    val src = Files.createTempDirectory("graft-semdd-src").toString
    val ckpt = Files.createTempDirectory("graft-semdd-ckpt").toString
    def writeVec(name: String, id: Long, e: Array[Double]): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$src/$name"),
        s"""{"vec_id": $id, "emb": [${e.mkString(", ")}]}\n""")
    // file sink, not memory: the append-mode memory sink refuses
    // checkpoint recovery (offsets would replay into a fresh table)
    val out = Files.createTempDirectory("graft-semdd-out").toString
    def startQuery() = SemDedupStream.semDedupStream(
        spark.readStream.schema(schema).json(src).as[VecIn],
        cents, minCos = 0.99)
      .writeStream.format("json").outputMode("append")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .start()
    // phase 1: vector 1 enters the seen set, then the query dies
    writeVec("a.json", 1L, vec(3))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // phase 2: a fresh query on the same checkpoint must flag the
    // duplicate of vector 1 — proof the cell's seen set was restored
    writeVec("b.json", 2L, vec(3))
    writeVec("c.json", 3L, vec(4)) // different dominant dim: novel
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val flags = spark.read.json(out)
      .selectExpr("CAST(vec_id AS LONG)", "CAST(removed AS INT)")
      .as[(Long, Int)].collect().toMap
    assert(flags == Map(1L -> 0, 2L -> 1, 3L -> 0),
      s"seen set did not survive restart: $flags")
  }

  test("capped state: beyond maxState arrivals are compared but not remembered") {
    // maxState = 1: the first vector is remembered; the second (an
    // orthogonal-ish one) is NOT cached, so a later duplicate of it
    // passes while a later duplicate of the first is still caught
    // same dominant dimension (one cell), but cos(a, b) ≈ 0.835 —
    // distinct under minCos = 0.99
    val a = Array(1.0, 0.3, 0.0, 0.0, 0.0, 0.0)
    val b = Array(1.0, -0.3, 0.0, 0.0, 0.0, 0.0)
    val out = runStream(
        Seq(Seq(VecIn(1L, a.toSeq)), Seq(VecIn(2L, b.toSeq)),
          Seq(VecIn(3L, b.toSeq), VecIn(4L, a.toSeq))),
        minCos = 0.99, maxState = 1, name = "semcap")
      .map(v => v.vec_id -> v.removed).toMap
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1), s"got $out")
  }
}
