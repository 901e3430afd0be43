package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel

/** [[Checkpoints.release]] needs the frame's root to BE the checkpoint;
  * [[Checkpoints.releaseTree]] reaches checkpoints an operator buried
  * under projections before returning (a beam search's final beam, a kNN
  * build's final edges) — the leak class the streaming maintenance sinks
  * hit one block set per micro-batch.
  */
class CheckpointsSpec extends AnyFunSuite with SparkTestBase {

  /** Ids of the session's persisted RDDs. The specs compare ids, not
    * counts: the ContextCleaner may drop RDDs an earlier suite leaked at
    * any moment, which moves a session-wide count mid-test.
    */
  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.getStorageLevel != StorageLevel.NONE => id
    }.toSet

  test("release drops a root checkpoint; projections hide it from release " +
    "but not from releaseTree") {
    val base = persisted()
    val ck = spark.range(100).toDF("id").localCheckpoint(eager = true)
    val ckIds = persisted() -- base
    assert(ckIds.size == 1)

    // Root-only release works on the checkpoint itself.
    Checkpoints.release(ck)
    assert((persisted() intersect ckIds).isEmpty)

    val ck2 = spark.range(100).toDF("id").localCheckpoint(eager = true)
    val ck2Ids = persisted() -- base
    assert(ck2Ids.size == 1)
    val wrapped = ck2.filter(col("id") > 1).select(col("id") * 2 as "x")
    // The projection hides the LogicalRDD root from release()...
    Checkpoints.release(wrapped)
    assert(ck2Ids.subsetOf(persisted()))
    // ...and releaseTree finds it anyway.
    Checkpoints.releaseTree(wrapped)
    assert((persisted() intersect ck2Ids).isEmpty)
  }

  test("releaseTree drops every checkpoint in a multi-leaf plan") {
    val base = persisted()
    val a = spark.range(50).toDF("id").localCheckpoint(eager = true)
    val b = spark.range(50).toDF("id").localCheckpoint(eager = true)
    val joined = a.join(b.select(col("id")), Seq("id"))
      .agg(count(lit(1)).as("n"))
    val ids = persisted() -- base
    assert(ids.size == 2)
    Checkpoints.releaseTree(joined)
    assert((persisted() intersect ids).isEmpty)
  }
}
