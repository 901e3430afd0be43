package graft.ops

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraphIndex.write]] stores each id once, like a maintenance batch
  * does: an input id given twice keeps one node (the deterministic
  * `max` vector), one out-edge list, and comes back from a probe once.
  */
class GraphIndexWriteSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def vec(i: Long, c: Int): Array[Double] =
    Array.tabulate(6)(d =>
      (if (d == c) 4.0 else 0.0) + (((i * 31 + d * 7) % 11) - 5) / 40.0)

  test("a duplicated input id is stored once and probed once") {
    val rows = (0L until 36L).map(i => (i, vec(i, (i % 6).toInt))) :+
      ((4L, vec(104L, 4))) // id 4 again, a second vector in its cluster
    val path = Files.createTempDirectory("gidx_dup").toString
    GraphIndex.write(spark, path, rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 4, rounds = 6, simPrecision = 6)

    val nodes = GraphIndex.nodes(spark, path)
    assert(nodes.count() == 36L)
    val kept = nodes.filter(col("id") === 4L).select("vec")
      .collect().map(_.getSeq[Double](0))
    val maxVec = Seq(vec(4L, 4).toSeq, vec(104L, 4).toSeq).toDF("v")
      .agg(max("v")).head().getSeq[Double](0)
    assert(kept.length == 1 && kept.head == maxVec)
    val edges = GraphIndex.edges(spark, path)
    assert(edges.count() == edges.select("id", "nbr").distinct().count())

    val probes = Seq((900L, vec(900L, 4))).toDF("vec_id", "embedding")
    val hits = GraphSearch.topK(edges, "id", "nbr", nodes, "id", "vec",
        probes, "vec_id", "embedding", k = 6, simPrecision = 6)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(hits.contains(4L), hits)
    assert(hits.count(_ == 4L) == 1, hits)
  }
}
