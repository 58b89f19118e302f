package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md is the designed tripwire for plan drift — a census that
  * stops at N−1 queries cannot trip. This gate fails the build when
  * the committed census is stale: every registered query must have a
  * row, and no row may record a failed plan. Regenerate with
  * `sbt "Test/runMain graft.PlanInventory"` after plan-affecting changes.
  */
class PlanCensusSpec extends AnyFunSuite {

  private val path = Paths.get("PLANS.md")

  test("PLANS.md census covers every registered query") {
    assert(Files.exists(path), "PLANS.md missing — run graft.PlanInventory")
    val lines = Files.readAllLines(path).asScala
    val rows = lines
      .filter(l => l.startsWith("| ") && !l.startsWith("| query") &&
        !l.startsWith("| **total"))
      .map(_.stripPrefix("| ").takeWhile(_ != ' ')).toSet
    val declared = SparkEntry.queries.keySet
    val missing = declared -- rows
    val stale = rows -- declared
    assert(missing.isEmpty,
      s"PLANS.md lacks rows for: ${missing.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"PLANS.md has rows for unregistered queries: ${stale.toSeq.sorted.mkString(", ")}")
    assert(rows.size == SparkEntry.queries.size)
  }

  test("PLANS.md records no failed plans") {
    val failed = Files.readAllLines(path).asScala
      .filter(_.contains("plan failed"))
    assert(failed.isEmpty, s"failed plan rows:\n${failed.mkString("\n")}")
  }
}
