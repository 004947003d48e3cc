package graft

import org.apache.spark.sql.functions._

/** Bucketed tables: a join of two tables bucketed on the join key
  * plans no exchange. (Skewed joins are AQE's skew-join split.) */
class SkewAndBucketingSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle (co-located join)") {
    val wh = Fixtures.tempDir("wh")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sfDir).write
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", wh.resolve("orders_b").toString)
        .mode("overwrite").saveAsTable("orders_b")
      Tables.customer(spark, sfDir).write
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", wh.resolve("customer_b").toString)
        .mode("overwrite").saveAsTable("customer_b")
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == Tables.orders(spark, sfDir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
