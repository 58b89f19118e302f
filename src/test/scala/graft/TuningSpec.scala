package graft

import graft.ops.Tuning
import graft.ops.Tuning.StagedFrame

class TuningSpec extends SparkSpec {
  import spark.implicits._

  test("workParts: work-derived count clamps to [1, session cap]") {
    // session cap is 4 in the test session (SparkSpec)
    assert(Tuning.workParts(spark, 0L, 1000L) == 1)
    assert(Tuning.workParts(spark, 999L, 1000L) == 1)
    assert(Tuning.workParts(spark, 2500L, 1000L) == 3)
    assert(Tuning.workParts(spark, Long.MaxValue / 2, 1000L) == 4)
  }

  test("stageCheckpoint: local default and reliable mode return the " +
    "same rows; reliable mode writes to the checkpoint dir") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val local = df.stageCheckpoint(true)
    assert(local.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val reliable = df.stageCheckpoint(true)
      assert(reliable.orderBy("id").collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 2L, 3L))
      // the reliable form must actually be a reliable checkpoint:
      // files exist under the checkpoint dir
      val wrote = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint wrote no files")
    } finally spark.conf.set("spark.graft.reliableCheckpoint", "false")
  }
}
