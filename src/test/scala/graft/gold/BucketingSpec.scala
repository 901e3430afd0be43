package graft.gold

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite with SparkTestBase {

  test("groupBy on the bucket key and co-located join run shuffle-free") {
    import spark.implicits._
    val events = (1L to 1000L).map(i => (i % 50, i, i * 2.0))
      .toDF("user_id", "event_id", "value")
    val users = (0L until 50L).map(i => (i, s"user_$i")).toDF("user_id", "name")

    try {
      Bucketing.writeBucketed(events, "b_events", "user_id", 8)
      Bucketing.writeBucketed(users, "b_users", "user_id", 8)

      val be = Bucketing.read(spark, "b_events")
      val bu = Bucketing.read(spark, "b_users")

      // Aggregation on the bucket key: pre-distributed, no Exchange.
      val agg = be.groupBy("user_id").agg(sum("value").as("total"))
      assert(Bucketing.isShuffleFree(agg),
        s"expected shuffle-free agg:\n${agg.queryExecution.executedPlan}")
      assert(agg.count() == 50)

      // Same-bucketed join: co-located, no Exchange on either side
      // (disable broadcast so the join would otherwise shuffle both sides).
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = be.join(bu, Seq("user_id"))
        assert(Bucketing.isShuffleFree(joined),
          s"expected co-located join:\n${joined.queryExecution.executedPlan}")
        assert(joined.count() == 1000)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

      // Control: the same join from plain (non-bucketed) frames shuffles.
      val prev2 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert(!Bucketing.isShuffleFree(events.join(users, Seq("user_id"))))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev2)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_events")
      spark.sql("DROP TABLE IF EXISTS b_users")
    }
  }
}
