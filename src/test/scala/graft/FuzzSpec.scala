package graft

import java.nio.file.{Files, Paths}

import LocalSession.jsonString

/** Adversarial-data differential tripwire (VERDICT r11 #1, FUZZ.md):
  * regenerate the seed-1 hostile corpus and replay a curated subset
  * of the most fuzz-sensitive gates against their DuckDB oracles —
  * the invalid-set pipeline family, malformed-JSON props, multimodal
  * byte math, zero-norm cosine, unicode text kernels. The FULL
  * 290-query replay is the FuzzGen/Verify/check.py recipe (FUZZ.md);
  * this spec keeps the hostile-data contract from silently rotting
  * between full replays. Requires driver-side python3 + duckdb (the
  * oracle toolchain — same dependency Bench's basket shells out to);
  * the test is CANCELED, not passed, when they are absent.
  */
class FuzzSpec extends SparkSpec {

  private val subset = Seq(
    "scope_project_documents", "pipe_map_stage", "pipe_trace_audit",
    "pipe_selfverify_chain", "agentic_dispatch",
    "events_props_histogram", "events_props_struct",
    "multimodal_features", "multimodal_frame_sample",
    "multimodal_chunk_manifest", "merge_upsert_documents",
    "text_quality", "text_char_shingles", "text_winnow_fingerprints",
    "ann_bruteforce_topk", "semdedup_centroid_rank")

  test("curated gate subset is oracle-exact on the seed-1 hostile corpus") {
    val py = try {
      new ProcessBuilder("python3", "-c", "import duckdb, pandas")
        .start().waitFor() == 0
    } catch { case _: Throwable => false }
    assume(py, "python3+duckdb (oracle toolchain) not available")

    val fuzzDir = Files.createTempDirectory("graft-fuzz").toString
    val outDir = Files.createTempDirectory("graft-fuzz-out").toString
    try {
      FuzzGen.generate(spark, seed = 1L, fuzzDir)
      subset.foreach { name =>
        SparkEntry.queries(name)(spark, fuzzDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      val json = subset
        .map(n => s"${jsonString(n)}: ${jsonString(SparkEntry.oracleSql(n))}")
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
      val pb = new ProcessBuilder("python3", "tools/check.py",
        fuzzDir, outDir)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val code = p.waitFor()
      assert(code == 0, s"hostile-corpus oracle compare failed:\n$out")
      assert(out.contains(s"${subset.size} pass / 0 fail"), out)
    } finally {
      for (d <- Seq(fuzzDir, outDir)) {
        Files.walk(Paths.get(d))
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(pp => Files.deleteIfExists(pp))
      }
    }
  }
}
