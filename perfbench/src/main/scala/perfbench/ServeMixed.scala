package perfbench

import java.net.{InetSocketAddress, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.Tables
import graft.pipeline.{ChatMessage, MockSandbox}
import graft.serving.GraftServer

/** One sent request: due, sent and done times (ns), status and body. */
final case class Sent(path: String, due: Long, sent: Long, done: Long,
                      status: Int, body: String) {
  def latencyMs: Double = (done - due) / 1e6
  def serviceMs: Double = (done - sent) / 1e6
  def lateMs: Double = (sent - due) / 1e6
}

object ServeMixed {
  /** Requests of the keep-alive probe; the first half warms up. */
  val KeepAliveRequests = 100
  /** Requests per closed-loop burst. */
  val BurstRequests = 350
  /** Untimed bursts after the check pass. Before them the JIT is still
    * compiling the request path, which doubled a burst's process CPU.
    */
  val WarmBursts = 2
  /** Open-loop rate of the untimed check pass. */
  val CheckRate = 1000.0
  /** Sender threads: the open loop's requests queue for them, and the
    * closed loop has one client per sender.
    */
  val Senders = 3
  /** Reference rate for the end-to-end latency, below saturation. */
  val RefRate = 80.0
  /** Open-loop rate steps of the traced run, and each step's length. */
  val Steps: Seq[Double] = Seq(50, 100, 150, 200, 250, 300, 400)
  val StepSeconds = 1.0
  /** A step passes when its p99 latency stays under this limit... */
  val P99LimitMs = 100.0
  /** ...and senders fall behind the schedule by no more than this
    * between the step's first and last fifth (no growing backlog).
    */
  val BacklogGrowthMs = 2.0
}

/** serve_mixed: GraftServer with the delaying model and an /ann/topk
  * index of the generated embeddings; /chat and /ann/topk requests from
  * three sender threads. Every response is compared with a body
  * computed in this process.
  */
final class ServeMixed extends Workload {
  import ServeMixed._

  private val mapper = new ObjectMapper()
  private var server: GraftServer = _
  private var index: Seq[(Long, Array[Double])] = Nil
  private var port = 0
  private val senders = Executors.newFixedThreadPool(Senders, r => {
    val t = new Thread(r, "perfbench-sender")
    t.setDaemon(true)
    t
  })

  def setUp(ctx: Ctx): Unit = {
    index = Tables.load(ctx.spark, ctx.inDir, "embeddings").collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    server = new GraftServer(Map("mock" -> DelayedMock.fromInputs(ctx)),
      MockSandbox(), annIndex = index)
    port = server.start(0).getPort
  }

  override def tearDown(ctx: Ctx): Unit = server.stop()

  /** The body the server must answer with, computed independently. */
  private def expected(path: String, req: JsonNode): JsonNode = path match {
    case "/chat" =>
      val m = req.path("messages").get(0)
      val node = mapper.createObjectNode()
      node.put("content", DelayedMock.expected(Seq(
        ChatMessage(m.path("role").asText, m.path("content").asText))))
      node
    case "/ann/topk" =>
      val q = req.path("vector").elements().asScala.map(_.asDouble).toArray
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0
        var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      val qn = math.sqrt(dot(q, q))
      val arr = mapper.createArrayNode()
      index.map { case (id, v) =>
        id -> BigDecimal(dot(q, v) / (qn * math.sqrt(dot(v, v))))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sortBy { case (id, c) => (-c, id) }.take(req.path("k").asInt)
        .foreach { case (id, c) =>
          val o = mapper.createObjectNode()
          o.put("id", id)
          o.put("cos", c)
          arr.add(o)
        }
      arr
  }

  /** One request on its own connection ("Connection: close"). On a
    * kept-alive connection, once Linux leaves quick-ACK mode, every reply
    * waits ~40 ms for the client's delayed ACK, because the server
    * writes headers and body separately without TCP_NODELAY. Latency
    * would then depend on the client's connection history;
    * serving.keepalive_ms measures that floor on its own.
    */
  private def post(path: String, body: String): (Int, String) = {
    val socket = new Socket()
    try {
      socket.setSoTimeout(30000)
      socket.connect(new InetSocketAddress("127.0.0.1", port))
      val b = body.getBytes(UTF_8)
      val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n" +
        "Connection: close\r\n\r\n"
      socket.getOutputStream.write(head.getBytes(US_ASCII) ++ b)
      val resp = new String(socket.getInputStream.readAllBytes(), UTF_8)
      (resp.substring(9, 12).toInt, resp.substring(resp.indexOf("\r\n\r\n") + 4))
    } finally socket.close()
  }

  /** Send `reqs` from the sender threads. With a finite `rate` this is
    * an open loop: the calling thread hands request i to the senders at
    * `i / rate` seconds after the start, and a request that waits for a
    * free sender counts that wait in its latency. With an infinite rate
    * it is a closed loop: each sender sends its next request when the
    * previous reply arrives. Each request gets a span under `parent`
    * while tracing.
    */
  private def send(ctx: Ctx, reqs: IndexedSeq[(String, String)], rate: Double,
                   parent: Long = 0L): IndexedSeq[Sent] = {
    val out = new Array[Sent](reqs.size)
    val done = new CountDownLatch(reqs.size)
    def issue(i: Int, due: Long): Unit = {
      val (path, body) = reqs(i)
      val sent = System.nanoTime()
      val startMs = ctx.tracer.nowMs()
      val (status, resp) =
        try post(path, body) catch { case NonFatal(e) => (-1, String.valueOf(e)) }
      out(i) = Sent(path, due, sent, System.nanoTime(), status, resp)
      val id = ctx.tracer.nextId()
      ctx.tracer.add(Span(id, parent, "request", path, id, startMs, ctx.tracer.nowMs()))
      done.countDown()
    }
    if (rate.isInfinite) {
      val next = new AtomicInteger(0)
      (1 to Senders).foreach(_ => senders.execute { () =>
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          issue(i, System.nanoTime())
          i = next.getAndIncrement()
        }
      })
    } else {
      val t0 = System.nanoTime()
      reqs.indices.foreach { i =>
        val due = t0 + (i * 1e9 / rate).toLong
        var wait = due - System.nanoTime()
        while (wait > 0) {
          LockSupport.parkNanos(wait)
          wait = due - System.nanoTime()
        }
        senders.execute(() => issue(i, due))
      }
    }
    done.await()
    out.toIndexedSeq
  }

  def run(ctx: Ctx): Unit = {
    val lines = Files.readAllLines(Paths.get(ctx.inDir, "requests.jsonl")).asScala
      .map(mapper.readTree).toIndexedSeq
    val reqs = lines.map(n => n.path("path").asText -> n.path("body").toString)
    // re-read from text so numbers compare by value, not by node type
    val want = lines.map(n => mapper.readTree(
      expected(n.path("path").asText, n.path("body")).toString))
    val chats = reqs.take(BurstRequests).count(_._1 == "/chat")

    def check(what: String, got: IndexedSeq[Sent]): Unit = {
      ctx.attempted += got.size
      val bad = got.indices.filter { i =>
        got(i).status != 200 ||
          (try mapper.readTree(got(i).body) != want(i)
           catch { case NonFatal(_) => true })
      }
      bad.headOption.foreach { i =>
        ctx.fail(s"$what: ${bad.size} of ${got.size} responses differ, first " +
          s"${got(i).path} ${got(i).status} ${got(i).body.take(200)} " +
          s"expected ${want(i).toString.take(200)}", count = bad.size)
      }
    }

    // check pass: every request once
    check("check pass", send(ctx, reqs, CheckRate))
    ctx.record.update("check", Map("requests" -> reqs.size))
    (1 to WarmBursts).foreach { i =>
      check(s"warm burst $i", send(ctx, reqs.take(BurstRequests), Double.PositiveInfinity))
    }

    // timed: closed-loop bursts for the budget, then the open loop
    // at the reference rate for the whole budget
    var last: IndexedSeq[Sent] = IndexedSeq.empty
    var counters = Map.empty[String, Double]
    val (bursts, _) = ctx.timedThenTraced({ (i, _) =>
      DelayedMock.reset()
      last = ctx.tracer.span("pass", s"burst $i", 0L) { id =>
        send(ctx, reqs.take(BurstRequests), Double.PositiveInfinity, id)
      }
      counters = Map("calls" -> DelayedMock.calls.sum.toDouble,
        "retries" -> DelayedMock.retries.sum.toDouble,
        "wait_s" -> DelayedMock.waitNs.sum / 1e9)
    }, after = i => check(s"burst $i", last))

    val nRef = math.min(reqs.size, (ctx.seconds * RefRate).toInt)
    ctx.coldState()
    val t0 = System.nanoTime()
    val ref = send(ctx, reqs.take(nRef), RefRate)
    ctx.timedS += (System.nanoTime() - t0) / 1e9
    check("reference rate", ref)
    ctx.passMetrics(bursts, BurstRequests, ref.map(_.latencyMs))
    ctx.record.update("reference", Map("rate_rps" -> RefRate, "requests" -> nRef,
      "by_path" -> ref.groupBy(_.path).map { case (p, xs) => p -> Map(
        "p50_ms" -> Stats.quantile(xs.map(_.latencyMs), 0.5),
        "p99_ms" -> Stats.quantile(xs.map(_.latencyMs), 0.99),
        "service_p99_ms" -> Stats.quantile(xs.map(_.serviceMs), 0.99)) },
      "p99_limit_ms" -> P99LimitMs, "senders" -> Senders, "rate_steps_rps" -> Steps,
      "burst_requests" -> BurstRequests))

    if (ctx.traced) {
      def pct(xs: Seq[Double], q: Double) = Stats.quantile(xs, q)
      for (path <- Seq("/chat", "/ann/topk")) {
        val lat = ref.filter(_.path == path).map(_.latencyMs)
        val key = if (path == "/chat") "chat" else "ann"
        ctx.layer(s"serving.$key.lat_p50_ms", pct(lat, 0.5), "ms")
        ctx.layer(s"serving.$key.lat_p99_ms", pct(lat, 0.99), "ms")
      }
      ctx.layer("serving.gen_late_ms", pct(ref.map(_.lateMs), 0.99), "ms")
      ctx.layer("pipeline.prompts", chats.toDouble, "count")
      ctx.layer("pipeline.llm_calls", counters("calls"), "count")
      ctx.layer("pipeline.retries", counters("retries"), "count")
      ctx.layer("pipeline.cache_hit_ratio",
        1 - (counters("calls") - counters("retries")) / chats, "ratio")
      ctx.layer("pipeline.llm_wait_s", counters("wait_s"), "s")

      // one client on one kept-alive connection: the reply floor that
      // keep-alive clients see
      val keepAlive = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build()
      val (path, body) = reqs.find(_._1 == "/chat").get
      val rtt = (1 to KeepAliveRequests).map { _ =>
        val t0 = System.nanoTime()
        keepAlive.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (System.nanoTime() - t0) / 1e6
      }
      ctx.layer("serving.keepalive_ms",
        Stats.median(rtt.drop(KeepAliveRequests / 2)), "ms")

      // rate ladder: stop after the first step that misses the limit
      val steps = scala.collection.mutable.ArrayBuffer[(Double, IndexedSeq[Sent], Boolean)]()
      var ok = true
      val ladder = Steps.iterator
      while (ok && ladder.hasNext) {
        val rate = ladder.next()
        ctx.coldState()
        val n = math.min(reqs.size, (rate * StepSeconds).toInt)
        val got = send(ctx, reqs.take(n), rate)
        check(s"step $rate", got)
        val fifth = math.max(1, n / 5)
        val growth = got.takeRight(fifth).map(_.lateMs).sum / fifth -
          got.take(fifth).map(_.lateMs).sum / fifth
        ok = pct(got.map(_.latencyMs), 0.99) <= P99LimitMs && growth <= BacklogGrowthMs
        steps += ((rate, got, ok))
      }
      val service = Stats.median(steps.head._2.map(_.serviceMs))
      val passing = steps.filter(_._3)
      val top = passing.lastOption.getOrElse(steps.head)
      ctx.layer("serving.service_ms", service, "ms")
      ctx.layer("serving.queue_ms",
        Stats.median(top._2.map(_.latencyMs)) - service, "ms")
      ctx.layer("serving.max_rate_rps", passing.lastOption.map(_._1).getOrElse(0.0), "1/s")
      ctx.layer("serving.backlog_max", top._2.indices.map { i =>
        top._2.take(i).count(_.done > top._2(i).due)
      }.max.toDouble, "count")
      ctx.record.update("ladder", steps.map { case (rate, got, pass) =>
        Map("rate_rps" -> rate, "p50_ms" -> pct(got.map(_.latencyMs), 0.5),
          "p99_ms" -> pct(got.map(_.latencyMs), 0.99), "passed" -> pass)
      }.toList)
    }
  }
}
