package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.pipeline._
import graft.sources.Jsonl

/** The benchmark's model: MockLlmClient's content after a fixed delay
  * per call that stands in for a remote model, with call counters. The
  * counters live in the companion object because Spark runs a
  * deserialized copy of the client inside its tasks.
  */
final case class DelayedMock(delayNs: Long) extends LlmClient {
  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    val t0 = System.nanoTime()
    var left = delayNs
    while (left > 0) {
      LockSupport.parkNanos(left)
      left = t0 + delayNs - System.nanoTime()
    }
    val r = DelayedMock.mock.complete(msgs, attempt)
    DelayedMock.calls.increment()
    if (attempt > 0) DelayedMock.retries.increment()
    DelayedMock.waitNs.add(System.nanoTime() - t0)
    r
  }
}

object DelayedMock {
  val mock: MockLlmClient = MockLlmClient()
  val calls, retries, waitNs = new LongAdder

  def reset(): Unit = Seq(calls, retries, waitNs).foreach(_.reset())

  /** The delay stated in the generated inputs. */
  def fromInputs(ctx: Ctx): DelayedMock = DelayedMock(
    (ctx.inputs.path("seed_settings").path("delay_ms").asDouble * 1e6).toLong)

  /** The content `run` must return for a conversation. */
  def expected(msgs: Seq[ChatMessage]): String = mock.complete(msgs, 0).content
}

/** llm_pipe: JSONL corpus → runPipeline (map: 2 instructions, reduce: 1)
  * → JSONL results, and the map stage's ChatML traces → writeTraces.
  * Every pass's outputs are read back and compared, row by row, with
  * MockLlmClient's content recomputed in this process.
  */
final class LlmPipe extends Workload {
  private val MapStage = InstructionStage("map", Seq(
    Instruction("summary", role = "summarizer", task = "Summarize the record.",
      scope = Seq("title", "body")),
    Instruction("keywords", role = "tagger", task = "List the keywords.",
      scope = Seq("notes"))))
  private val ReduceStage = InstructionStage("reduce", Seq(
    Instruction("verdict", role = "reviewer", task = "Combine the findings.",
      scope = Seq("summary", "keywords"))))
  private val Config = PipelineConfig(Seq(MapStage, ReduceStage))
  private val Cols = Seq("id", "title", "body", "notes")
  // writeTraces writes the trace frame twice (ChatMLs and the meta
  // sidecar), and each write runs the trace stage's prompts again
  private val TraceEvaluations = 2
  private val ResultSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("map_result", MapType(StringType, StringType)),
    StructField("reduce_result", MapType(StringType, StringType))))

  private var client: DelayedMock = _

  def setUp(ctx: Ctx): Unit = client = DelayedMock.fromInputs(ctx)

  /** id → (map outputs, verdict), computed with the mock in-process. */
  private def expectedRows(ctx: Ctx): Map[Long, (Map[String, String], String)] = {
    val mapper = new ObjectMapper()
    Files.readAllLines(Paths.get(ctx.inDir, "corpus.jsonl")).asScala.map { line =>
      val n = mapper.readTree(line)
      val input = Cols.map(c => c -> n.path(c).asText).toMap
      def answer(ins: Instruction, in: Map[String, String]): Option[String] =
        Prompts.userPrompt(ins, in).map(u => DelayedMock.expected(Seq(
          ChatMessage("system", Prompts.sysPrompt(ins)), ChatMessage("user", u))))
      val mapped = MapStage.instructions.flatMap(i => answer(i, input).map(i.name -> _)).toMap
      n.path("id").asLong -> (mapped, answer(ReduceStage.instructions.head, mapped).orNull)
    }.toMap
  }

  /** Rows whose results or traces differ from the expected ones. */
  private def mismatches(ctx: Ctx, out: Path,
                         want: Map[Long, (Map[String, String], String)]): Long = {
    val spark = ctx.spark
    val got = spark.read.schema(ResultSchema).json(out.resolve("results").toString)
      .collect().map { r =>
        r.getLong(0) -> (r.getMap[String, String](1).toMap,
          r.getMap[String, String](2).get("verdict").orNull)
      }.toMap
    val bySession = want.keys.map(id =>
      LlmClient.sha256Hex(id.toString).take(32) -> id).toMap
    val traces = spark.read.json(out.resolve("traces/chatmls").toString)
      .select(col("session_id"), col("name"), col("result")).collect()
      .groupBy(r => bySession.getOrElse(r.getString(0), -1L))
    want.count { case (id, (mapped, verdict)) =>
      val t = traces.getOrElse(id, Array.empty)
        .map(r => r.getString(1) -> r.getString(2)).toMap
      !got.get(id).contains((mapped, verdict)) || t != mapped
    } + (got.keySet -- want.keySet).size
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = Paths.get(ctx.inDir, "corpus.jsonl").toString
    val out = Paths.get(ctx.workDir, "pipe")
    val want = expectedRows(ctx)
    val rows = want.size

    // one pass: read → pipeline → results; map-stage traces → sidecar
    def pass(parent: Long): Map[String, Double] = {
      def step(name: String)(f: => Unit): (String, Double) = {
        val t0 = System.nanoTime()
        ctx.call("step", name, parent)(f)
        name -> (System.nanoTime() - t0) / 1e9
      }
      var df: DataFrame = null
      Seq(
        step("jsonl_read") { df = Jsonl.read(spark, corpus) },
        step("pipeline") {
          Jsonl.write(InstructionRunner.runPipeline(df, Config, client, Cols)
            .select(col("id"), col("map_result"), col("reduce_result")),
            out.resolve("results").toString)
        },
        step("trace") {
          Jsonl.writeTraces(InstructionRunner.traceStage(
            InstructionRunner.stringifyKv(df, Cols, "stage0_result"), MapStage,
            client, "stage0_result", "id"), out.resolve("traces").toString)
        }).toMap
    }
    def check(what: String): Unit = {
      ctx.attempted += rows
      try {
        val bad = mismatches(ctx, out, want)
        if (bad > 0) ctx.fail(s"$what: $bad of $rows rows differ", count = bad)
      } catch { case NonFatal(e) => ctx.fail(what, e, rows) }
    }

    // two untimed passes: the first runs cold, the second lets the JIT
    // settle before the timed ones; both are checked
    for (what <- Seq("check pass", "warm pass")) {
      ctx.coldState()
      try { pass(0L); check(what) }
      catch { case NonFatal(e) => ctx.attempted += rows; ctx.fail(what, e, rows) }
    }
    ctx.record.update("check", Map("rows" -> rows))

    var steps = Map.empty[String, Double]
    var counters = Map.empty[String, Double]
    val (plain, _) = ctx.timedThenTraced({ (i, _) =>
      DelayedMock.reset()
      ctx.tracer.span("pass", s"pass $i", 0L) { id =>
        try steps = pass(id) catch { case NonFatal(e) => ctx.fail(s"pass $i", e, rows) }
      }
      counters = Map("calls" -> DelayedMock.calls.sum.toDouble,
        "retries" -> DelayedMock.retries.sum.toDouble,
        "wait_s" -> DelayedMock.waitNs.sum / 1e9)
    }, after = i => check(s"pass $i"), min = 3)
    ctx.passMetrics(plain, rows, plain.map(_._1 * 1e3))

    if (ctx.traced) {
      val prompts = rows.toDouble * (Config.stages.map(_.instructions.size).sum +
        TraceEvaluations * MapStage.instructions.size)
      val llmS = steps("pipeline") + steps("trace")
      ctx.layer("pipeline.prompts", prompts, "count")
      ctx.layer("pipeline.llm_calls", counters("calls"), "count")
      ctx.layer("pipeline.retries", counters("retries"), "count")
      ctx.layer("pipeline.cache_hit_ratio",
        1 - (counters("calls") - counters("retries")) / prompts, "ratio")
      ctx.layer("pipeline.llm_wait_s", counters("wait_s"), "s")
      ctx.layer("pipeline.inflight_mean", counters("wait_s") / llmS, "count")
      ctx.layer("pipeline.trace_s", steps("trace"), "s")
      ctx.layer("sources.jsonl_read_s", steps("jsonl_read"), "s")

      // The map stage alone and the whole pipeline, each from a cold
      // cache, untraced, read from the corpus and written to the same
      // JSONL sink: the difference is the reduce stage's share.
      def sunk(pipeline: DataFrame => DataFrame, dir: String): Double = {
        ctx.coldState()
        val t0 = System.nanoTime()
        Jsonl.write(pipeline(Jsonl.read(spark, corpus)), out.resolve(dir).toString)
        (System.nanoTime() - t0) / 1e9
      }
      val mapS = sunk(df => InstructionRunner.runStage(
        InstructionRunner.stringifyKv(df, Cols, "stage0_result"), MapStage, client,
        "stage0_result", "map_result").select(col("id"), col("map_result")), "map_only")
      val bothS = sunk(df => InstructionRunner.runPipeline(df, Config, client, Cols)
        .select(col("id"), col("map_result"), col("reduce_result")), "map_reduce")
      ctx.layer("pipeline.map_s", mapS, "s")
      ctx.layer("pipeline.reduce_s", bothS - mapS, "s")

      // the JSONL sink alone: rewrite the results just written
      val results = spark.read.schema(ResultSchema).json(out.resolve("results").toString)
        .cache()
      results.count()
      val copy = out.resolve("results_copy")
      val t1 = System.nanoTime()
      Jsonl.write(results, copy.toString)
      ctx.layer("sources.jsonl_write_s", (System.nanoTime() - t1) / 1e9, "s")
      ctx.layer("sources.jsonl_write_mb", Files.walk(copy).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size(_)).sum / 1e6, "MB")
      results.unpersist()
    }
  }
}
