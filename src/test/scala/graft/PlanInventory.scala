package graft

import java.nio.file.{Files, Paths}

/** Dev tool: census of every registered query's physical plan — how
  * many shuffles (Exchange), broadcasts, joins by strategy, aggregates
  * by strategy, and window operators each plan contains. Emitted as
  * PLANS.md so plan regressions (a new shuffle, a join falling off
  * broadcast, an aggregate degrading to SortAggregate) show up as a
  * one-line diff in review. Counts come from the AQE initial plan —
  * runtime demotions (e.g. shuffle→broadcast) only ever improve on
  * what is recorded here.
  *
  * Usage: sbt "Test/runMain graft.PlanInventory [query...]" — with no
  * names it writes the census; with names it prints the formatted
  * physical plan of each named query instead (the plan audit:
  * missing filter pushdown, unexpected shuffles, lost broadcasts).
  */
object PlanInventory {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.build("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "PLANS.md")
    val wanted = args.toSet
    val audit = wanted.nonEmpty

    def ops(plan: String): Seq[String] = plan.linesIterator
      .map(_.dropWhile(c => !c.isLetter).takeWhile(c => c.isLetter))
      .filter(_.nonEmpty).toSeq

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan inventory (generated by graft.PlanInventory)\n\n")
    sb.append(s"Per-query operator census of the AQE initial physical plan at\n")
    sb.append(s"`$sfDir`. `shuf` = hash/range Exchange (the wide stages that\n")
    sb.append("dominate at 100 TB), `bcast` = BroadcastExchange, joins and\n")
    sb.append("aggregates broken out by physical strategy. Regenerate with\n")
    sb.append("`sbt \"Test/runMain graft.PlanInventory\"` and diff after plan-affecting\n")
    sb.append("changes.\n\n")
    sb.append("| query | shuf | bcast | SMJ | BHJ | BNLJ | hashAgg | objAgg | sortAgg | win | winLimit |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|---|---|\n")

    var totals = Map.empty[String, Int].withDefaultValue(0)
    Queries.all.filter(q => !audit || wanted(q.name)).foreach { q =>
      try {
        val df = q.fn(spark, sfDir)
        if (audit) {
          println(s"\n========== ${q.name} ==========")
          df.explain("formatted")
        } else {
          val o = ops(df.queryExecution.executedPlan.toString)
          def n(name: String) = o.count(_ == name)
          val row = Seq(
            "shuf" -> n("Exchange"), "bcast" -> n("BroadcastExchange"),
            "SMJ" -> n("SortMergeJoin"), "BHJ" -> n("BroadcastHashJoin"),
            "BNLJ" -> n("BroadcastNestedLoopJoin"),
            "hashAgg" -> n("HashAggregate"), "objAgg" -> n("ObjectHashAggregate"),
            "sortAgg" -> n("SortAggregate"),
            "win" -> n("Window"), "winLimit" -> n("WindowGroupLimit"))
          row.foreach { case (k, v) => totals = totals.updated(k, totals(k) + v) }
          sb.append(s"| ${q.name} | ${row.map(_._2).mkString(" | ")} |\n")
        }
      } catch { case e: Throwable =>
        if (audit) println(s"${q.name}: plan failed: $e")
        else sb.append(s"| ${q.name} | plan failed: ${e.getClass.getSimpleName} |\n")
      } finally spark.catalog.clearCache()
    }
    if (!audit) {
      val keys = Seq("shuf", "bcast", "SMJ", "BHJ", "BNLJ",
        "hashAgg", "objAgg", "sortAgg", "win", "winLimit")
      sb.append(s"| **total (${Queries.all.size} queries)** | ${keys.map(totals).mkString(" | ")} |\n")
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[plans] wrote $out")
    }
    spark.stop()
  }
}
