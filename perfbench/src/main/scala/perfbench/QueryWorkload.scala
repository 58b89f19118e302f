package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.functions.{GraftFunctions => GF}

object QueryWorkload {
  /** ROADMAP's heavy tail: exchanges, pair joins and graph loops.
    * embedding_knn_clusters is left out: its DuckDB oracle alone takes
    * ~14 s per run at this size, more than the run budget allows.
    */
  val ShuffleHeavy: Seq[String] = Seq("dedup_edit_distance",
    "dedup_jaccard_prefix", "graph_pagerank_converged", "lsh_band_curve",
    "graph_triangles_parts", "basket_pairs_lift", "q20_dominant_suppliers")

  /** Kernels measured one by one as noop-sink projections (traced). */
  val Kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "bpeTokens" -> (_.select(GF.bpeTokens(col("text")))),
    "simhash16" -> (_.select(GF.simhash16(col("text")))),
    "charShingleCount" -> (_.select(GF.charShingleCount(col("text"), 5))),
    "kmvDistinct" -> (_.agg(GF.kmvDistinct(col("text"), 1024))),
    "countMin" -> (_.agg(GF.countMin(col("text"), 4, 2048))),
    "fingerprint" -> (_.select(GF.fingerprint(col("text")))),
    "hash60" -> (_.select(GF.hash60(col("text")))))

  /** Rows the kernel projections run over (documents repeated): the
    * cheapest kernel, hash60, then spends ~0.3 s of executor CPU a job.
    */
  val KernelRows = 40000L
  /** Copies of lineitem the scan probe unions (60k rows each). */
  val ScanCopies = 4
  /** Jobs per probe; the median is reported. */
  val ProbeReps = 3
}

/** shuffle_heavy: registered queries from `SparkEntry.queries`, each a
  * noop-sink write of its full result. The check pass writes every
  * result to parquet for the runner's DuckDB oracle compare
  * (tools/check.py). The runner computes the oracle side while the
  * check pass runs and then writes a line to this JVM's stdin, so the
  * timed passes never share the machine with it.
  */
final class QueryWorkload(queries: Seq[String]) extends Workload {
  import QueryWorkload._

  def setUp(ctx: Ctx): Unit = Tables.registerAll(ctx.spark, ctx.inDir)

  private def query(ctx: Ctx, q: String): DataFrame =
    SparkEntry.queries(q)(ctx.spark, ctx.inDir)

  def run(ctx: Ctx): Unit = {
    val out = Files.createDirectories(Paths.get(ctx.workDir, "out"))
    val oracles = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    val tmp = out.resolve("oracle_sql.json.tmp")
    Files.writeString(tmp, Json.render(oracles.toMap))
    Files.move(tmp, out.resolve("oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
    ctx.record.update("queries", queries)
    queries.foreach { q =>
      ctx.attempted += 1
      try query(ctx, q).write.mode("overwrite").parquet(out.resolve(q).toString)
      catch { case NonFatal(e) => ctx.fail(s"$q check pass", e) }
    }
    System.in.read()  // the runner's oracle is done (or the runner is gone)

    val walls = mutable.Map[(Boolean, String), mutable.ArrayBuffer[Double]]()
    val ops = mutable.Map[String, mutable.ArrayBuffer[GroupTotals]]()
    val (plain, traced) = ctx.timedThenTraced { (pass, tracing) =>
      ctx.tracer.span("pass", s"pass $pass", 0L) { passSpan =>
        val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(queries)
        order.foreach { q =>
          ctx.attempted += 1
          try {
            val t0 = System.nanoTime()
            val (_, totals) = ctx.call("query", q, passSpan) {
              query(ctx, q).write.format("noop").mode("overwrite").save()
            }
            walls.getOrElseUpdate((tracing, q), mutable.ArrayBuffer()) +=
              (System.nanoTime() - t0) / 1e9
            if (tracing) ops.getOrElseUpdate(q, mutable.ArrayBuffer()) += totals
          } catch { case NonFatal(e) => ctx.fail(s"$q pass $pass", e) }
        }
      }
    }
    ctx.passMetrics(plain, ctx.inputRows.values.sum.toDouble,
      walls.collect { case ((false, _), xs) => xs }.flatten.map(_ * 1e3).toSeq)

    if (ctx.traced) {
      queries.foreach { q =>
        walls.get((true, q)).foreach(xs =>
          ctx.layer(s"queries.$q.wall_s", Stats.median(xs.toSeq), "s"))
        ops.get(q).foreach { ts =>
          val n = ts.size.toDouble
          ctx.layer(s"ops.$q.cpu_s", ts.map(_.cpuNs).sum / 1e9 / n, "s")
          ctx.layer(s"ops.$q.shuffle_mb", ts.map(_.shuffleWriteBytes).sum / 1e6 / n, "MB")
          ctx.layer(s"ops.$q.jobs", ts.map(_.jobs).sum / n, "count")
          ctx.layer(s"ops.$q.tasks", ts.map(_.tasks).sum / n, "count")
        }
      }
      val all = new GroupTotals
      ops.values.flatten.foreach(all += _)
      val n = traced.size.toDouble
      ctx.layer("ops.cpu_s", all.cpuNs / 1e9 / n, "s")
      ctx.layer("ops.shuffle_mb", all.shuffleWriteBytes / 1e6 / n, "MB")
      ctx.layer("ops.spill_mb", all.spillBytes / 1e6 / n, "MB")
      ctx.layer("ops.gc_s", all.gcMs / 1e3 / n, "s")
      ctx.layer("ops.busy_ratio",
        all.runMs / 1e3 / (traced.map(_._1).sum * ctx.cores), "ratio")
      locally {
        ctx.traceOn()
        try measureKernels(ctx) finally ctx.traceOff()
      }
    }
  }

  /** Per-kernel cost: executor CPU of a noop-sink projection of the
    * kernel over the documents text (repeated to `KernelRows` rows),
    * minus that of the text alone, per row. And the executor CPU of a
    * noop scan of the largest table, lineitem (`ScanCopies` copies
    * unioned), per row. Task CPU time leaves out scheduling and CPU
    * stolen from the VM, which dominate a job's wall time at this size.
    * Each figure is the median of `ProbeReps` jobs.
    */
  private def measureKernels(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def cpuNs(df: DataFrame): Seq[GroupTotals] = (1 to ProbeReps).map { i =>
      ctx.call("probe", s"probe $i", 0L) {
        df.write.format("noop").mode("overwrite").save()
      }._2
    }
    def medianCpu(ts: Seq[GroupTotals]): Double = Stats.median(ts.map(_.cpuNs.toDouble))

    val scan = cpuNs(Seq.fill(ScanCopies)(Tables.load(spark, ctx.inDir, "lineitem"))
      .reduce(_ union _))
    ctx.layer("sources.parquet_scan.ns_per_row",
      medianCpu(scan) / (ScanCopies * ctx.inputRows("lineitem")), "ns")
    ctx.layer("sources.scan_tasks", scan.head.tasks.toDouble / ScanCopies, "count")

    val docs = Tables.load(spark, ctx.inDir, "documents").select(col("text"))
    val docRows = ctx.inputRows("documents")
    val reps = math.max(1L, KernelRows / docRows)
    val base = spark.range(reps).crossJoin(docs).select(col("text"))
    val rows = (reps * docRows).toDouble
    val textOnly = medianCpu(cpuNs(base))
    Kernels.foreach { case (name, project) =>
      ctx.layer(s"expressions.$name.ns_per_row",
        (medianCpu(cpuNs(project(base))) - textOnly) / rows, "ns")
    }
  }
}
