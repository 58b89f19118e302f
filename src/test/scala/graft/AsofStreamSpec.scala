package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.Relational
import graft.streaming.AsofStream
import graft.streaming.AsofStream.{AsofEvent, AsofMatch}

/** Streaming as-of enrichment: batch parity for event-time-ordered
  * delivery under any micro-batch slicing, arrival-order semantics
  * across batches (no retro-matching), tolerance, and the state
  * bounds (tolerance pruning + hard cap).
  */
class AsofStreamSpec extends SparkSpec {
  import spark.implicits._

  // 8 keys, interleaved timeline/fact rows, unique (key, time) per
  // side; times pseudo-random but fixed
  private def corpus: Seq[AsofEvent] = {
    val rights = for (i <- 0L until 300L) yield
      AsofEvent(i % 8, (i * 131) % 1000, side = 0, id = 10000 + i,
        value = i * 3.0)
    val lefts = for (i <- 0L until 500L) yield
      AsofEvent(i % 8, (i * 173) % 1000, side = 1, id = i, value = 0.0)
    (rights ++ lefts).distinct
  }

  private def runStream(batches: Seq[Seq[AsofEvent]],
                        tol: Option[Long], name: String): Seq[AsofMatch] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[AsofEvent]
    val q = AsofStream.asofStream(mem.toDS(), tol)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    val rows = spark.sql(s"SELECT * FROM $name").as[AsofMatch].collect().toSeq
    q.stop()
    rows
  }

  private def batchExpected(tol: Option[Long]): Map[Long, (Boolean, Long, Double)] = {
    val evs = corpus
    val left = evs.filter(_.side == 1).map(e => (e.id, e.key, e.timeUs))
      .toDF("id", "k", "lt")
    val right = evs.filter(_.side == 0).map(e => (e.key, e.timeUs, e.value))
      .toDF("rk", "rt", "rv")
    Relational.asofJoinNative(left, right, "k", "rk", "lt", "rt", Seq("rv"),
        toleranceUs = tol, broadcastRight = Some(false))
      .select("id", "asof_time_us", "rv")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map { case (id, mt, mv) =>
        id -> ((mt.isDefined, mt.getOrElse(0L), mv.getOrElse(0.0)))
      }.toMap
  }

  test("event-time-ordered stream reproduces the batch join under any slicing") {
    val ordered = corpus.sortBy(e => (e.timeUs, e.side, e.id))
    for (tol <- Seq(None, Some(100L)); slice <- Seq(13, 97, 800)) {
      val expected = batchExpected(tol)
      val got = runStream(ordered.grouped(slice).toSeq, tol,
          s"asofst${tol.getOrElse(0L)}x$slice")
        .map(m => m.id -> ((m.matched, m.asofTimeUs, m.matchedValue))).toMap
      assert(got.keySet == expected.keySet)
      assert(got == expected, {
        val d = got.toSet diff expected.toSet
        s"tol=$tol slice=$slice diff=${d.take(5)}"
      })
    }
  }

  test("a late right row does not retro-match already-emitted facts") {
    val b1 = Seq(AsofEvent(1, 100, side = 1, id = 1, value = 0.0))
    val b2 = Seq(AsofEvent(1, 50, side = 0, id = 900, value = 7.0),
      AsofEvent(1, 120, side = 1, id = 2, value = 0.0))
    val out = runStream(Seq(b1, b2), None, "asoflate")
      .map(m => m.id -> m.matched).toMap
    assert(out(1L) == false) // fact before the timeline row arrived
    assert(out(2L) == true)  // next fact sees it
  }

  test("tolerance pruning and hard cap bound per-key state") {
    // one key, monotone times: 200 right rows then a fact far ahead —
    // with tol=50 only entries in [lt-50, lt] plus one survive
    val rights = (0L until 200L).map(i =>
      AsofEvent(1, i * 10, side = 0, id = 1000 + i, value = i.toDouble))
    val fact = AsofEvent(1, 2000, side = 1, id = 1, value = 0.0)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[AsofEvent]
    val q = AsofStream.asofStream(mem.toDS(), toleranceUs = Some(50L),
        maxState = 64)
      .writeStream.format("memory").queryName("asofprune")
      .outputMode("append").start()
    mem.addData(rights :+ fact: _*)
    q.processAllAvailable()
    // the fact at 2000 matches rt=1990 (staleness 10 <= 50)
    val m = spark.sql("SELECT * FROM asofprune").as[AsofMatch].head()
    assert(m.matched && m.asofTimeUs == 1990L)
    // a second batch: fact at 2040 still matches 1990 (staleness 50)
    mem.addData(AsofEvent(1, 2040, side = 1, id = 2, value = 0.0))
    q.processAllAvailable()
    val m2 = spark.sql("SELECT * FROM asofprune WHERE id = 2").as[AsofMatch].head()
    assert(m2.matched && m2.asofTimeUs == 1990L)
    q.stop()
  }

  test("equal-time right rows: the later-processed one supersedes (batch rule)") {
    val b = Seq(
      AsofEvent(1, 50, side = 0, id = 901, value = 1.0),
      AsofEvent(1, 50, side = 0, id = 902, value = 2.0),
      AsofEvent(1, 100, side = 1, id = 1, value = 0.0))
    val out = runStream(Seq(b), None, "asoftie")
    assert(out.head.matchedId == 902L && out.head.matchedValue == 2.0)
  }
}
