package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Bucketed co-located joins: writing both sides bucketed by the join
  * key must eliminate the shuffle exchange (and the sort, since
  * buckets are written sorted) from the join plan — the repeated-join
  * lever at 100 TB. Asserted on the executed plan, not assumed.
  */
class BucketingSpec extends SparkSpec {

  test("same-key bucketed tables join with no exchange and no sort") {
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the exchange would be visible
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val lineitem = Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      Relational.writeBucketed(orders, "b_orders", "o_orderkey", 8)
      Relational.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 8)

      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString

      assert(joined.count() > 0)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a co-located merge/hash join:\n$plan")

      // and the unbucketed baseline DOES shuffle (the assertion above
      // is meaningful)
      val flat = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      assert(flat.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("bucket-pruned aggregation: groupBy on the bucket key avoids the exchange") {
    try {
      val orders = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      Relational.writeBucketed(orders, "b_orders_agg", "o_orderkey", 8)
      val agg = spark.table("b_orders_agg").groupBy(col("o_orderkey"))
        .agg(sum(col("o_totalprice")).as("s"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(agg.count() > 0)
      assert(!plan.contains("Exchange"),
        s"groupBy on the bucket key must not shuffle:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders_agg")
    }
  }
}
