package graft

import java.math.RoundingMode
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.streaming._
import graft.streaming.ConformalGateStream.GateObs
import graft.streaming.MinHashStream.DocIn
import graft.streaming.PageHinkleyStream.SeriesObs
import graft.streaming.SemDedupStream.VecIn

/** Checkpointed restart resilience: every stateful streaming
  * operator's state store must survive stop + restart from the same
  * checkpoint — the property that makes any of the streaming
  * dedup/sketch operators deployable (executors die; the claim state
  * must not). Each test uses a file source (offsets are file names,
  * so a fresh reader resumes exactly where the stopped one committed)
  * and asserts only values reachable through restored phase-1 state
  * (versions/counts that a cold restart would reset), never mere
  * non-emptiness. A memory sink cannot recover from a checkpoint in
  * Append mode, so all but the complete-mode MinHash test write to a
  * json sink.
  */
class StreamRestartSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit =
    Files.writeString(java.nio.file.Paths.get(s"$dir/$name"),
      lines.mkString("", "\n", "\n"))

  /** phase1 → run → stop → phase2 → restart from the SAME checkpoint
    * → run; returns the json-sink dir. File-source offsets are file
    * names, so the restarted reader consumes exactly the unread file.
    */
  private def restartRun(schema: StructType, phase1: Seq[String],
                         phase2: Seq[String])
                        (xform: DataFrame => DataFrame): String = {
    val src = tmp("graft-restart-src")
    val ckpt = tmp("graft-restart-ckpt")
    val out = tmp("graft-restart-out")
    def start() = xform(spark.readStream.schema(schema).json(src))
      .writeStream.format("json").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    writeLines(src, "a.json", phase1)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    writeLines(src, "b.json", phase2)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    out
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val textA = "the quick brown fox jumps over the lazy dog " +
    "while the other animals watch from the shade of an old oak tree"
  private val textB = "completely different content about ships and " +
    "harbors where the morning fog rolls in across the quiet water"

  test("minhash dedup bucket claims survive a checkpointed restart") {
    val src = Files.createTempDirectory("graft-restart-src").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    def writeDoc(name: String, id: Long, text: String): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$src/$name"),
        s"""{"doc_id": $id, "text": "$text"}\n""")

    def startQuery() = MinHashStream.minhashDedupStream(
        spark.readStream.schema(schema).json(src).as[DocIn])
      .writeStream.format("memory").queryName("restart_dd")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start()

    // phase 1: doc 1 claims its buckets, then the query dies
    writeDoc("a.json", 1L, textA)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()

    // phase 2: a fresh query on the same checkpoint sees a duplicate
    // of doc 1 and a novel doc — the verdicts prove the restored
    // state: 2 drops ONLY if the pre-restart claim survived
    writeDoc("b.json", 2L, textA)
    writeDoc("c.json", 3L, textB)
    val q2 = startQuery()
    q2.processAllAvailable()
    val verdicts = spark.sql("SELECT doc_id, dropped FROM restart_dd")
      .as[(Long, Boolean)].collect().toMap
    q2.stop()

    assert(verdicts == Map(1L -> false, 2L -> true, 3L -> false),
      s"state did not survive restart: $verdicts")
  }

  test("conformal gate: sketch + audit counters survive restart") {
    val src = tmp("graft-cg-src")
    val ckpt = tmp("graft-cg-ckpt")
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("side", IntegerType), StructField("reward", DoubleType)))
    val out = tmp("graft-cg-out")
    // memory sink cannot recover from a checkpoint (Append mode) —
    // restart coverage needs a durable sink, so results land as json
    def start() = ConformalGateStream.conformalGateStream(
        spark.readStream.schema(schema).json(src).as[GateObs], 64, 0.1)
      .writeStream.format("json").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()

    // phase 1: 20 calibration rewards 0.05..1.00 — threshold ≈ 0.1
    writeLines(src, "a.json", (1 to 20).map(i =>
      s"""{"g": "g", "side": 0, "reward": ${i * 0.05}}"""))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()

    // phase 2: test traffic only. A fresh query that LOST the sketch
    // would see n_calib = 0 and (per the cold-start contract) skip the
    // audit entirely — so n_calib = 20 and n_test = 2 with the 0.01
    // reward failing the ≈0.1 threshold proves restoration.
    writeLines(src, "b.json", Seq(
      """{"g": "g", "side": 1, "reward": 0.9}""",
      """{"g": "g", "side": 1, "reward": 0.01}"""))
    val q2 = start()
    q2.processAllAvailable()
    val outSchema = StructType(Seq(StructField("g", StringType),
      StructField("version", LongType), StructField("n_calib", LongType),
      StructField("threshold", DoubleType), StructField("err_rank", LongType),
      StructField("n_test", LongType), StructField("n_pass", LongType)))
    val last = spark.read.schema(outSchema).json(out)
      .orderBy("version")
      .selectExpr("n_calib", "threshold", "n_test", "n_pass")
      .as[(Long, Double, Long, Long)].collect().last
    q2.stop()
    assert(last._1 == 20L, s"calibration sketch lost: $last")
    assert(last._2 > Double.NegativeInfinity && last._2 <= 0.15, s"thr: $last")
    assert(last._3 == 2L && last._4 == 1L,
      s"audit counters wrong after restart: $last")
  }

  test("page-hinkley: the 4-number recursion state survives restart") {
    val src = tmp("graft-ph-src")
    val ckpt = tmp("graft-ph-ckpt")
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("orderK", LongType), StructField("micros", LongType)))
    val lambda = 0.5
    val out = tmp("graft-ph-out")
    def start() = PageHinkleyStream.pageHinkleyStream(
        spark.readStream.schema(schema).json(src).as[SeriesObs], lambda)
      .writeStream.format("json").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()

    // micros series: stable 1.0 then a level shift to 3.0
    val phase1 = (1 to 5).map(k => (k.toLong, 1000000L))
    val phase2 = (6 to 10).map(k => (k.toLong, 3000000L))
    writeLines(src, "a.json", phase1.map { case (k, m) =>
      s"""{"g": "g", "orderK": $k, "micros": $m}""" })
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    writeLines(src, "b.json", phase2.map { case (k, m) =>
      s"""{"g": "g", "orderK": $k, "micros": $m}""" })
    val q2 = start()
    q2.processAllAvailable()
    val outSchema = StructType(Seq(StructField("g", StringType),
      StructField("orderK", LongType), StructField("i", LongType),
      StructField("ph", DoubleType), StructField("alarm", BooleanType)))
    val rows = spark.read.schema(outSchema).json(out)
      .orderBy("orderK").selectExpr("orderK", "i", "ph", "alarm")
      .as[(Long, Long, Double, Boolean)].collect()
    q2.stop()

    assert(rows.map(_._2).toSeq == (1L to 10L),
      s"row counter i must continue across the restart: ${rows.toSeq}")
    // driver replica of the operator's exact micro-quantized recursion
    // over the SAME series — bit-exact parity proves the whole
    // (n, sum, m, min) state vector was restored, not just the counter
    def r6Micros(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(8, RoundingMode.HALF_UP).setScale(6, RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
    def toD(m: Long): Double =
      java.math.BigDecimal.valueOf(m).movePointLeft(6).doubleValue()
    var (n, s, m, minM) = (0L, 0L, 0L, 0L)
    val expected = (phase1 ++ phase2).map { case (_, micros) =>
      n += 1; s += micros
      m += r6Micros(toD(micros) - toD(s) / n.toDouble)
      minM = if (n == 1L) m else math.min(minM, m)
      toD(m - minM)
    }
    assert(rows.map(_._3).toSeq == expected,
      s"ph trajectory diverged after restart: ${rows.map(_._3).toSeq} vs $expected")
    assert(rows.last._4, "the level shift must alarm")
  }

  test("pack stream: the per-(class, shard) rank counter survives restart") {
    import graft.streaming.PackStream
    val src = tmp("graft-pk-src")
    val ckpt = tmp("graft-pk-ckpt")
    val out = tmp("graft-pk-out")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("n_tokens", LongType)))
    def start() = PackStream.packStream(
        spark.readStream.schema(schema).json(src).as[PackStream.DocIn],
        capacity = 100, shards = 1)
      .writeStream.format("json").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()

    // class 2 (45 tokens): 3 docs before the restart fill bin 0 and
    // half of bin 1; 3 docs after must CONTINUE at ranks 4-6 (bins
    // 1, 2, 2) — a lost counter would restart at bin 0
    writeLines(src, "a.json", (0 until 3).map(i =>
      s"""{"doc_id": $i, "n_tokens": 45}"""))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    writeLines(src, "b.json", (3 until 6).map(i =>
      s"""{"doc_id": $i, "n_tokens": 45}"""))
    val q2 = start()
    q2.processAllAvailable()
    val outSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("k", LongType), StructField("shard", LongType),
      StructField("bin", LongType)))
    val bins = spark.read.schema(outSchema).json(out)
      .select("bin").as[Long].collect().sorted.toSeq
    q2.stop()
    assert(bins == Seq(0L, 0L, 1L, 1L, 2L, 2L),
      s"rank counter did not survive the restart: $bins")
  }

  test("semantic dedup: per-cell representative lists survive restart") {
    val src = tmp("graft-sd-src")
    val ckpt = tmp("graft-sd-ckpt")
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("emb", ArrayType(DoubleType))))
    val centroids = Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0))
    val out = tmp("graft-sd-out")
    def start() = SemDedupStream.semDedupStream(
        spark.readStream.schema(schema).json(src).as[VecIn],
        centroids, minCos = 0.95)
      .writeStream.format("json").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt).start()

    // phase 1: vec 1 becomes cell 0's representative
    writeLines(src, "a.json",
      Seq("""{"vec_id": 1, "emb": [1.0, 0.01]}"""))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()

    // phase 2: vec 2 is a near-duplicate of vec 1 (same cell), vec 3
    // is novel in the other cell — 2 is removed ONLY if the phase-1
    // representative survived the restart
    writeLines(src, "b.json", Seq(
      """{"vec_id": 2, "emb": [0.999, 0.012]}""",
      """{"vec_id": 3, "emb": [0.01, 1.0]}"""))
    val q2 = start()
    q2.processAllAvailable()
    val outSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("cell", IntegerType), StructField("removed", IntegerType)))
    val verdicts = spark.read.schema(outSchema).json(out)
      .selectExpr("vec_id", "removed").as[(Long, Int)].collect().toMap
    q2.stop()
    assert(verdicts == Map(1L -> 0, 2L -> 1, 3L -> 0),
      s"representative state did not survive restart: $verdicts")
  }

  test("elo: the league rating table survives restart") {
    val schema = StructType(Seq(StructField("league", StringType),
      StructField("seq", LongType), StructField("a", StringType),
      StructField("b", StringType), StructField("sa", DoubleType)))
    val m1 = Seq(EloStream.Match("L", 1L, "p", "q", 1.0),
      EloStream.Match("L", 2L, "p", "q", 1.0))
    val m2 = Seq(EloStream.Match("L", 3L, "p", "q", 0.0))
    def js(m: EloStream.Match) =
      s"""{"league":"${m.league}","seq":${m.seq},"a":"${m.a}","b":"${m.b}","sa":${m.sa}}"""
    val out = restartRun(schema, m1.map(js), m2.map(js))(df =>
      EloStream.eloStream(df.as[EloStream.Match]))
    val outSchema = StructType(Seq(StructField("league", StringType),
      StructField("player", StringType), StructField("version", LongType),
      StructField("rating", DoubleType), StructField("games", LongType)))
    val rows = spark.read.schema(outSchema).json(out)
      .as[EloStream.Rating].collect()
    // version = league match COUNT: 3 only if phase-1's 2 matches are
    // still in state (a cold restart would emit version 1)
    val latest = rows.filter(_.version == 3L)
    assert(latest.nonEmpty, s"no version-3 rows: ${rows.toSeq}")
    // ratings equal the reference fold over ALL THREE matches in seq
    // order — phase 2 folds FROM restored ratings, not from 1000
    val want = EloStream.fold(m1 ++ m2)
    latest.foreach { r =>
      val (wr, wg) = want(r.player)
      assert(math.abs(r.rating - wr) < 1e-9 && r.games == wg,
        s"${r.player}: got (${r.rating}, ${r.games}), want ($wr, $wg)")
    }
  }

  test("kll: the serialized sketch survives restart") {
    val schema = StructType(Seq(StructField("g", IntegerType),
      StructField("v", DoubleType)))
    val out = restartRun(schema,
      (1 to 20).map(i => s"""{"g":1,"v":$i.0}"""),
      (21 to 24).map(i => s"""{"g":1,"v":$i.0}"""))(df =>
      KllStream.kllStream(df.as[KllStream.Obs], 8, Seq(0.5, 1.0)))
    val outSchema = StructType(Seq(StructField("g", IntegerType),
      StructField("version", LongType), StructField("n", LongType),
      StructField("err_bound", LongType),
      StructField("est", ArrayType(DoubleType))))
    val last = spark.read.schema(outSchema).json(out)
      .orderBy("version").as[KllStream.GroupQuantiles].collect().last
    assert(last.n == 24L, s"sketch lost ${24 - last.n} rows: $last")
    // the q=1.0 estimate is sketch-approximate (rank within
    // n ± err_bound), but a COLD sketch holding only phase-2's
    // 21..24 could never carry n=24, and the estimate must sit in
    // the rank envelope of the full 1..24 stream
    assert(last.est.last >= (24L - last.err_bound).toDouble &&
      last.est.last <= 24.0, s"max estimate outside envelope: $last")
  }

  test("psi: per-bin (ref, cur) counters survive restart") {
    val schema = StructType(Seq(StructField("side", IntegerType),
      StructField("v", DoubleType)))
    // mn=0, mx=10, bins=5 → v=1.0 lands in bin 0 both phases
    val out = restartRun(schema,
      (1 to 5).map(_ => """{"side":0,"v":1.0}"""),
      (1 to 3).map(_ => """{"side":1,"v":1.0}"""))(df =>
      PsiStream.psiStream(df.as[PsiStream.Obs], 0.0, 10.0, 5))
    val outSchema = StructType(Seq(StructField("bin", LongType),
      StructField("version", LongType), StructField("n_ref", LongType),
      StructField("n_cur", LongType)))
    val last = spark.read.schema(outSchema).json(out)
      .orderBy("version").as[PsiStream.BinRow].collect().last
    // n_ref = 5 is phase-1 state; a cold restart would report (0, 3)
    assert(last.bin == 0L && last.version == 8L &&
      last.n_ref == 5L && last.n_cur == 3L, s"counters: $last")
  }

  test("cms: the depth x width counter array survives restart") {
    val schema = StructType(Seq(StructField("h", LongType)))
    val (depth, width) = (2, 16)
    val out = restartRun(schema,
      Seq("""{"h":1}""", """{"h":1}""", """{"h":2}"""),
      Seq("""{"h":1}""", """{"h":3}"""))(df =>
      CmsStream.cmsStream(df.as[CmsStream.HashIn], depth, width, groups = 1))
    val outSchema = StructType(Seq(StructField("grp", IntegerType),
      StructField("version", LongType),
      StructField("counters", ArrayType(LongType))))
    val last = spark.read.schema(outSchema).json(out)
      .orderBy("version").as[CmsStream.SketchRow].collect().last
    assert(last.version == 5L, s"version: $last")
    // estimate(h=1) = 3 requires phase-1's two increments in the
    // restored counters (cold restart would estimate 1)
    assert(CmsStream.estimate(last.counters.toArray, 1L, depth, width) == 3L,
      s"estimate: $last")
    assert(CmsStream.estimate(last.counters.toArray, 2L, depth, width) == 1L)
  }

  test("trending: per-window MG buffers survive restart") {
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    def js(sec: Int, t: String) =
      s"""{"ts":"2024-01-01T00:00:0$sec.000Z","event_type":"$t"}"""
    val out = restartRun(schema,
      Seq(js(1, "a"), js(2, "a"), js(3, "a"), js(4, "b")),
      Seq(js(5, "b"), js(6, "b")))(df =>
      TrendingStream.trendingStream(df.as[TrendingStream.EventIn],
        windowMs = 3600000L, capacity = 8))
    val outSchema = StructType(Seq(StructField("window_start", TimestampType),
      StructField("version", LongType), StructField("event_type", StringType),
      StructField("mg_count", LongType)))
    val rows = spark.read.schema(outSchema).json(out)
      .as[TrendingStream.WindowTop].collect()
    val top = TrendingStream.currentTopK(rows.toSeq, 2)
    assert(top.size == 1, s"one window expected: $top")
    // a=3 counts only phase-1 events; b=3 spans the restart (1+2) —
    // both prove the buffer was restored, and version must be 6
    assert(rows.map(_.version).max == 6L, s"version: ${rows.toSeq}")
    assert(top.head._2 == Seq(("a", 3L), ("b", 3L)), s"top: $top")
  }

  test("heavy hitters: candidate maps survive restart") {
    val schema = StructType(Seq(StructField("token", StringType)))
    val out = restartRun(schema,
      Seq("""{"token":"a"}""", """{"token":"a"}""", """{"token":"b"}"""),
      Seq("""{"token":"a"}""", """{"token":"c"}"""))(df =>
      HeavyHittersStream.heavyHittersStream(df.as[HeavyHittersStream.TokenIn],
        capacity = 8, groups = 1))
    val outSchema = StructType(Seq(StructField("grp", IntegerType),
      StructField("version", LongType), StructField("token", StringType),
      StructField("mg_count", LongType)))
    val rows = spark.read.schema(outSchema).json(out)
      .as[HeavyHittersStream.Candidate].collect()
    val latest = rows.filter(_.version == 5L)
      .map(c => c.token -> c.mg_count).toMap
    // a=3 (2 before + 1 after restart) and b=1 (phase-1 only, still
    // tracked) both require the restored candidate map
    assert(latest == Map("a" -> 3L, "b" -> 1L, "c" -> 1L),
      s"candidates: ${rows.toSeq}")
  }

  test("reward advantage: exact BigInt moments survive restart") {
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("r", DoubleType)))
    val out = restartRun(schema,
      Seq("""{"g":"g","r":1.0}""", """{"g":"g","r":2.0}""",
        """{"g":"g","r":3.0}"""),
      Seq("""{"g":"g","r":4.0}"""))(df =>
      RewardAdvantageStream.advantageStream(
        df.as[RewardAdvantageStream.Obs]))
    val outSchema = StructType(Seq(StructField("g", StringType),
      StructField("version", LongType), StructField("n", LongType),
      StructField("mu", DoubleType), StructField("sigma", DoubleType)))
    val last = spark.read.schema(outSchema).json(out)
      .orderBy("version").as[RewardAdvantageStream.GroupMoments]
      .collect().last
    // mu = 2.5 over ALL FOUR rewards — a cold restart would report
    // n=1, mu=4.0
    assert(last.n == 4L, s"moments lost: $last")
    assert(math.abs(last.mu - 2.5) < 1e-12, s"mu: $last")
    assert(math.abs(last.sigma - math.sqrt(1.25)) < 1e-12, s"sigma: $last")
  }
}
