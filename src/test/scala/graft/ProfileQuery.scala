package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (r13 optimization round): per-query empirical profile —
  * wall-clock per repeated run plus a job/stage breakdown from a
  * SparkListener, so time can be attributed to scheduler floors,
  * shuffle stages, or compute without the (disabled) UI. Guide §1.1:
  * decide whether a slow query is codegen, shuffle, stragglers or
  * compute BEFORE touching it.
  *
  * Usage: sbt "Test/runMain graft.ProfileQuery <query> [query...]"
  *   SPARK_GRAFT_SF_DIR   data dir (default sf0.1)
  *   SPARK_GRAFT_PROF_RUNS  timed runs per query (default 2)
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROF_RUNS", "2").toInt
    val spark = LocalSession.build("32")
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up as Bench so run 1 is comparable
    LocalSession.warmUp(spark)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val sb = new scala.collection.mutable.ArrayBuffer[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, desc) = jobs.getOrDefault(j.jobId, (0L, "?"))
        sb.synchronized {
          sb += f"    job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc"
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val wall = (for {a <- info.completionTime; b <- info.submissionTime}
          yield (a - b) / 1e3).getOrElse(-1.0)
        val m = info.taskMetrics
        sb.synchronized {
          sb += f"      stage ${info.stageId}%3d ${wall}%7.3f s  tasks=${info.numTasks}%-4d " +
            f"exec=${m.executorRunTime / 1e3}%7.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
            f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2fMB " +
            f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2fMB  ${info.name.takeWhile(_ != '\n').take(90)}"
        }
      }
    }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to runs).foreach { r =>
        LocalSession.settle(spark) // Bench's settle: numbers stay comparable
        sb.synchronized(sb.clear())
        if (r == runs) spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$name run$r")
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (r == runs) {
          spark.sparkContext.removeSparkListener(listener)
          Thread.sleep(200) // let late listener events land
        }
        println(f"[prof] $name run$r: $dt%.3f s")
        if (r == runs) sb.synchronized(sb.foreach(println))
      }
    }
    spark.stop()
  }
}
