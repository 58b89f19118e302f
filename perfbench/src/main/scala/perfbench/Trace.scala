package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds (fractional), so
  * harness spans and Spark's own job/stage timestamps share one clock.
  * `call` is the id of the query, stage or request the span belongs to.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      call: Long, start: Double, end: Double)

/** Spans kept in memory and written when the run ends. Spans are kept
  * only while `active` (the traced passes); otherwise `span` just runs
  * its body.
  */
final class Tracer {
  @volatile var active = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (active) spans.synchronized(spans += s)

  /** Run `f` inside a span; `f` receives the span id (its children's
    * parent). The span is recorded even if `f` throws.
    */
  def span[T](layer: String, name: String, parent: Long)(f: Long => T): T = {
    val id = nextId()
    val t0 = nowMs()
    try f(id)
    finally add(Span(id, parent, layer, name, id, t0, nowMs()))
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover (children clipped to the parent,
    * overlaps merged), summed per layer, in seconds.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val ivs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var curA = Double.NaN
        var curB = Double.NaN
        ivs.foreach { case (a, b) =>
          if (curA.isNaN || a > curB) {
            if (!curA.isNaN) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (!curA.isNaN) covered += curB - curA
        (s.end - s.start - covered) / 1e3
      }.sum
    }
  }
}

/** Task totals of one job group (one benchmark call). */
final class GroupTotals {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L

  def +=(o: GroupTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs
  }
}

/** Spark listener keyed by job group: the benchmark sets one job group
  * per call (`Ctx.call`), so every job, stage and task Spark runs is
  * attributed to the query or pipeline step that caused it. Job and
  * stage spans go to the tracer under the call's span.
  */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val groupSpan = new ConcurrentHashMap[String, java.lang.Long]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentHashMap[Int, (String, Long, Double)]()

  def register(group: String, spanId: Long): Unit = {
    groupSpan.put(group, spanId)
    totals.put(group, new GroupTotals)
  }

  def totalsOf(group: String): GroupTotals =
    Option(totals.get(group)).getOrElse(new GroupTotals)

  private def callOf(group: String): Long =
    Option(groupSpan.get(group)).map(_.longValue).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val spanId = tracer.nextId()
    jobs.put(e.jobId, (group, spanId, e.time.toDouble))
    e.stageIds.foreach { s =>
      stageGroup.putIfAbsent(s, group)
      stageJob.putIfAbsent(s, spanId)
    }
    Option(totals.get(group)).foreach(t => t.synchronized(t.jobs += 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (group, spanId, start) =>
      val call = callOf(group)
      tracer.add(Span(spanId, call, "job", s"job ${e.jobId}", call, start,
        e.time.toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val group = stageGroup.getOrDefault(info.stageId, "")
    for (start <- info.submissionTime; end <- info.completionTime) {
      tracer.add(Span(tracer.nextId(),
        Option(stageJob.get(info.stageId)).map(_.longValue).getOrElse(0L),
        "stage", s"stage ${info.stageId} ${info.name}", callOf(group),
        start.toDouble, end.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val t = totals.get(stageGroup.getOrDefault(e.stageId, ""))
    if (m != null && t != null) t.synchronized {
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.gcMs += m.jvmGCTime
    }
  }
}
