package graft.ops

import graft.SparkTestBase
import graft.gold.Bucketing
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed-storage contract: a join between two tables bucketed on
  * the join key plans with NO Exchange (the shuffle was paid once at
  * write time), and the result matches the plain join. The physical
  * plan is part of the contract — at 100 TB the absent exchange IS the
  * feature.
  *
  * Runs in its OWN `newSession()`: the assertions need broadcast and
  * AQE off to expose the raw join shape, and suites share one
  * SparkSession in parallel — mutating the shared conf raced whichever
  * suite ran alongside (observed: green standalone, red in `sbt test`).
  * A new session has private SQLConf over the same SparkContext and
  * shared catalog, which is exactly the isolation needed.
  */
class BucketedJoinSpec extends AnyFunSuite with SparkTestBase {

  private lazy val s = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2
  }

  // DROP TABLE alone is not enough across JVMs: the default in-memory
  // catalog forgets the table when the test JVM exits, but the managed
  // location under spark-warehouse/ survives, and the next run's
  // saveAsTable refuses it (LOCATION_ALREADY_EXISTS). Clear both.
  private def dropTable(name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    graft.ops.LocalFs.deleteRecursively(loc)
  }

  private def facts = {
    import s.implicits._
    (0L until 1000L).map(i => (i % 97, i, (i * 7) % 100))
      .toDF("k", "fact_id", "qty")
  }
  private def dim = {
    import s.implicits._
    (0L until 97L).map(i => (i, s"name_$i")).toDF("k", "name")
  }

  test("bucketed-both-sides equi-join plans without any Exchange") {
    dropTable("bj_facts")
    dropTable("bj_dim")
    Bucketing.writeBucketed(facts, "bj_facts", "k", buckets = 8)
    Bucketing.writeBucketed(dim, "bj_dim", "k", buckets = 8)
    val j = Bucketing.read(s, "bj_facts")
      .join(Bucketing.read(s, "bj_dim"), "k")
      .groupBy("name").agg(sum("qty").as("q"))
    val joinPlan = j.queryExecution.executedPlan.toString
    val joinPart = joinPlan.split("HashAggregate").last
    assert(!joinPart.contains("Exchange hashpartitioning"),
      s"exchange under the bucketed join:\n$joinPlan")
    // Same rows as the plain (shuffling) join.
    val plain = facts.join(dim, "k").groupBy("name")
      .agg(sum("qty").as("q"))
    assert(j.collect().toSet == plain.collect().toSet)
  }

  test("one unbucketed side still exchanges exactly that side") {
    dropTable("bj_facts2")
    Bucketing.writeBucketed(facts, "bj_facts2", "k", buckets = 8)
    val j = Bucketing.read(s, "bj_facts2").join(dim, "k")
    val plan = j.queryExecution.executedPlan.toString
    val n = plan.split('\n').count(_.contains("Exchange hashpartitioning"))
    assert(n == 1, s"expected exactly one exchange (the unbucketed side):\n$plan")
  }
}
