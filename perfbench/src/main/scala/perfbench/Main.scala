package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.ObjectMapper

/** One benchmark run of one workload in this JVM (perfbench/README.md).
  *
  * Phases: set-up (twice: the JVM's start plus the first, cold one is
  * setup_s; the second, warm one is a layer metric), an
  * untimed check pass whose outputs are verified, timed passes for
  * `--seconds`, and with `--trace 1` traced passes and probes that
  * give the per-layer metrics. The record file is rewritten after
  * every phase.
  *
  * Args: --workload --in --work --seconds --trace --cores --seed
  *       --record --launched (epoch ns at which the JVM was spawned)
  */
object Main {
  /** Set-ups per run: the cold one and one warm one. */
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    // any escape leaves the record partial; exiting also stops the
    // server's non-daemon dispatcher thread
    try run(opt, enteredMs)
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }

  private def run(opt: Map[String, String], enteredMs: Long): Unit = {
    val ctx = new Ctx(opt)
    val wl: Workload = ctx.workload match {
      case "shuffle_heavy" => new QueryWorkload(QueryWorkload.ShuffleHeavy)
      case "llm_pipe" => new LlmPipe
      case "serve_mixed" => new ServeMixed
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartS = (enteredMs - opt("launched").toLong / 1e6) / 1e3
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (ctx.spark != null) {
        wl.tearDown(ctx)
        ctx.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      ctx.spark = graft.LocalSession.build(ctx.cores.toString)
      ctx.spark.sparkContext.setLogLevel("WARN")
      warmUp(ctx.spark)
      wl.setUp(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    // the first set-up is the cold one a user waits for: it loads
    // Spark's classes and compiles the warm-up from scratch
    val setupS = jvmStartS + setups.head
    ctx.metric("setup_s", setupS, "s", 1)
    ctx.layer("harness.setup_warm_s", setups.last, "s")
    ctx.record.update("setup", Map("jvm_start_s" -> jvmStartS,
      "repetitions_s" -> setups, "setup_s" -> setupS))
    val runStart = System.nanoTime()

    wl.run(ctx)

    ctx.layer("harness.peak_rss_mb", peakRssMb(), "MB")
    val runS = (System.nanoTime() - runStart) / 1e9
    ctx.layer("harness.untimed_s", runS - ctx.timedS, "s")
    if (ctx.traced) {
      ctx.tracer.selfSeconds.foreach { case (layer, s) =>
        ctx.layer(s"trace.self_s.$layer", s, "s")
      }
      val spansFile = Paths.get(ctx.workDir, "spans.jsonl")
      Files.write(spansFile, ctx.tracer.all.map { s =>
        Json.render(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
          "name" -> s.name, "call" -> s.call, "start_ms" -> s.start,
          "end_ms" -> s.end))
      }.asJava)
      ctx.record.update("spans", Map("file" -> spansFile.toString,
        "count" -> ctx.tracer.all.size))
    }
    ctx.finish()
    wl.tearDown(ctx)
    ctx.spark.stop()
  }

  /** Codegen and scheduler warm-up shared by every workload: a tiny
    * query with higher-order functions and a shuffle.
    */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000)
      .select(aggregate(transform(sequence(lit(0), lit(3)), i => i * 2),
        lit(0L), (a, b) => a + b).as("v"))
      .groupBy(col("v")).count()
      .write.format("noop").mode("overwrite").save()

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

}

/** What a workload does with the session the set-up built. */
trait Workload {
  /** Per set-up repetition, after the session exists. */
  def setUp(ctx: Ctx): Unit

  /** Undo `setUp` before the next repetition. */
  def tearDown(ctx: Ctx): Unit = ()

  /** Check pass, timed passes and (traced) per-layer measurements. */
  def run(ctx: Ctx): Unit
}

/** Run state shared by the harness and the workloads. */
final class Ctx(opt: Map[String, String]) {
  val workload: String = opt("workload")
  val inDir: String = opt("in")
  val workDir: String = opt("work")
  val seconds: Double = opt("seconds").toDouble
  val traced: Boolean = opt("trace") == "1"
  val cores: Int = opt("cores").toInt
  val seed: Long = opt("seed").toLong
  val record = new Record(Paths.get(opt("record")))
  val tracer = new Tracer
  val listener = new LayerListener(tracer)
  var spark: SparkSession = _

  /** The measured input properties the generator wrote. */
  val inputs = new ObjectMapper().readTree(Paths.get(inDir, "inputs.json").toFile)

  /** Rows per generated input table. */
  val inputRows: Map[String, Long] =
    inputs.path("tables").fields().asScala
      .map(e => e.getKey -> e.getValue.path("rows").asLong).toMap

  var attempted = 0L
  var failed = 0L
  var timedS = 0.0
  private val failures = mutable.ArrayBuffer[String]()
  private val metrics = mutable.LinkedHashMap[String, Map[String, Any]]()
  private val layers = mutable.LinkedHashMap[String, Map[String, Any]]()

  record.fields ++= Seq("workload" -> workload, "seed" -> seed,
    "trace" -> traced, "cores" -> cores, "seconds" -> seconds,
    "inputs" -> inputs)

  def metric(name: String, value: Double, unit: String, samples: Int): Unit = {
    metrics(name) = Map("value" -> value, "unit" -> unit, "samples" -> samples)
    record.update("metrics", metrics.clone())
  }

  def layer(name: String, value: Double, unit: String): Unit = {
    layers(name) = Map("value" -> value, "unit" -> unit)
    record.update("layers", layers.clone())
  }

  /** Count `count` failed attempts; they are never timed. */
  def fail(what: String, e: Throwable = null, count: Long = 1L): Unit = {
    failed += count
    failures += (if (e == null) what else s"$what: ${String.valueOf(e).take(300)}")
    record.update("failures", failures.toList)
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Timed passes: at least `min`, then more while another pass as long
    * as the last still fits in `budgetS`. Each pass starts cold (cached
    * data and the LLM cache cleared, garbage collected outside the
    * timing); `after` runs untimed once the pass ends (output checks).
    * A pass in which anything failed is not kept as a timing. Returns
    * each kept pass's (wall s, process CPU s).
    */
  def passes(budgetS: Double, min: Int = 1, after: Int => Unit = _ => ())
            (pass: Int => Unit): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer[(Double, Double)]()
    var spent = 0.0
    var i = 0
    var last = 0.0
    while (i < min || spent + last <= budgetS) {
      coldState()
      val failedBefore = failed
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      pass(i)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      spent += wall
      last = wall
      timedS += wall
      after(i)
      if (failed == failedBefore) out += ((wall, cpu))
      i += 1
      record.update("passes", out.map { case (w, c) =>
        Map("wall_s" -> w, "cpu_s" -> c) }.toList)
    }
    out.toList
  }

  /** Whether calls are traced right now: traced runs time untraced
    * passes first and compare, so the listener is attached only here.
    */
  var tracing = false

  def traceOn(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    tracing = true
    tracer.active = true
  }

  def traceOff(): Unit = {
    // deliver the last events before the listener goes
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    tracing = false
    tracer.active = false
  }

  /** Untraced passes, then (traced runs) traced passes, half the budget
    * each; records the tracing overhead. Returns (untraced, traced).
    */
  def timedThenTraced(pass: (Int, Boolean) => Unit, budgetS: Double = seconds,
                      after: Int => Unit = _ => (), min: Int = 1)
      : (Seq[(Double, Double)], Seq[(Double, Double)]) =
    if (!traced) (passes(budgetS, min, after)(pass(_, false)), Nil)
    else {
      val plain = passes(budgetS / 2, after = after)(pass(_, false))
      traceOn()
      val withTrace = try passes(budgetS / 2, after = after)(i => pass(plain.size + i, true))
        finally traceOff()
      layer("harness.trace_overhead_pct", 100.0 *
        (Stats.median(withTrace.map(_._1)) / Stats.median(plain.map(_._1)) - 1), "%")
      (plain, withTrace)
    }

  /** The end-to-end metrics every workload reports from its untraced
    * passes: pass wall and CPU, input rows per second, and per-item
    * latency (an item is a query, a pipeline pass or a request).
    */
  def passMetrics(ps: Seq[(Double, Double)], rows: Double,
                  itemMs: Seq[Double]): Unit = {
    val wall = Stats.median(ps.map(_._1))
    metric("wall_s", wall, "s", ps.size)
    metric("cpu_s", Stats.median(ps.map(_._2)), "s", ps.size)
    metric("rows_per_s", rows / wall, "1/s", ps.size)
    metric("lat_p50_ms", Stats.quantile(itemMs, 0.5), "ms", itemMs.size)
    metric("lat_p90_ms", Stats.quantile(itemMs, 0.9), "ms", itemMs.size)
  }

  def coldState(): Unit = {
    spark.catalog.clearCache()
    graft.pipeline.LlmCache.clear()
    System.gc()
  }

  /** One traced call: its own span and job group, so the listener
    * attributes every Spark job it starts. Untraced, just runs `f`.
    */
  def call[T](layer: String, name: String, parent: Long)(f: => T): (T, GroupTotals) =
    if (!tracing) (f, new GroupTotals)
    else tracer.span(layer, name, parent) { id =>
      val group = s"call-$id"
      listener.register(group, id)
      val sc = spark.sparkContext
      sc.setJobGroup(group, name)
      try {
        val r = f
        org.apache.spark.BenchBridge.drainListenerBus(sc)
        (r, listener.totalsOf(group))
      } finally sc.clearJobGroup()
    }

  def finish(): Unit = {
    record.fields ++= Seq("attempted" -> attempted, "failed" -> failed)
    record.update("partial", false)
  }
}
