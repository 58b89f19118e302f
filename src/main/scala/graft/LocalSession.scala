package graft

import org.apache.spark.sql.SparkSession

/** The shared module for every dev entry point: the local-session
  * builder, the JVM warm-up, the between-runs settle and the JSON
  * string quoter. Bench and Verify (driver-invoked, in the library)
  * and the test-tree tools StressBench, ProfileQuery and
  * PlanInventory all build their session here, so the tuning knobs
  * cannot drift between the tools whose numbers SCALING.md compares:
  *  - SPARK_GRAFT_CPUS threads (callers pass their default);
  *  - shuffle partitions sized to the thread count;
  *  - small-SF scan splitting (default openCost keeps a sub-MB
  *    parquet on ONE core through a whole expression pipeline);
  *  - UTC session timezone (timestamp oracles);
  *  - UI off.
  */
object LocalSession {
  def build(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    // shuffle partitions default to the thread count (right for the
    // gate SFs), overridable for scaled-shape probes: at the ×300
    // graph shape 32 partitions put ~8M-row aggregation hash tables
    // in every task and the suite goes spill-bound — the same
    // data-to-partition sizing a real cluster does with
    // spark.sql.shuffle.partitions at 100 TB (SCALING.md round-11)
    val shuffleParts =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    SparkSession.builder()
      .master(s"local[$cpus]")
      // the full extension surface (native SQL functions, opt-in
      // optimizer rules, the as-of planner strategy) is part of what
      // Verify/Bench exercise — same wiring as SparkSpec's session
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** JVM warm-up: a tiny query touching higher-order functions and a
    * shuffle, so the first timed query doesn't absorb the one-time
    * Janino/lambda codegen cost (~5-15 s, measured) that every
    * executor JVM pays exactly once.
    */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000)
      .select(aggregate(transform(sequence(lit(0), lit(3)), i => i * 2),
        lit(0L), (a, b) => a + b).as("v"))
      .groupBy(col("v")).count()
      .write.format("noop").mode("overwrite").save()
  }

  /** Isolate the next timed run: drop cached data/broadcasts
    * accumulated by the previous query so its GC debt isn't billed to
    * the next one. clearCache + System.gc alone is NOT enough: gc()
    * only ENQUEUES reference processing, and the ContextCleaner's
    * broadcast/shuffle removal RPCs then land DURING the next timed
    * query (suite-mode ran multi-job queries ~2x their isolated time;
    * probe sketch_distinct_kmv 3.0 suite vs 0.8 isolated). So: gc,
    * run an UNTIMED settle action that spins the scheduler while the
    * cleaner queue drains, gc the newly unreachable state, and park
    * briefly for concurrent-GC tails.
    */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    spark.range(1024).repartition(4)
      .groupBy(org.apache.spark.sql.functions.expr("id % 8")).count()
      .write.format("noop").mode("overwrite").save()
    System.gc()
    Thread.sleep(400)
  }

  /** `s` as a JSON string literal, quotes included: backslash, quote
    * and ALL control chars (< 0x20) are escaped; everything else,
    * non-ASCII and surrogate pairs included, passes through as UTF-16.
    * Verify writes oracle_sql.json with it — a tab or CR in an oracle
    * SQL string left raw would make the driver's json.load fail and
    * zero the whole correctness gate.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
