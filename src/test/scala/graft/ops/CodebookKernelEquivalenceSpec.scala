package graft.ops

import java.nio.file.Files

import scala.util.Try

import graft.SparkTestBase
import graft.ml.{KMeans, Pq}
import graft.ml.KMeans.KMeansModel
import graft.ml.Pq.PqModel
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codebook kernel ([[graft.expr.Codebooks]]) must reproduce the
  * literal-expression formulation it replaced BIT FOR BIT: one
  * `|c|² − 2·vec_dot(q, c)` tree per centroid, `array_min` /
  * `array_position` for the first minimum, per-subspace `slice`s. That
  * formulation is kept below ([[Literal]]) as the reference, and every
  * public surface built on the kernel is compared with it: k-means
  * assign and fit, PQ fit / encode / ADC / error aggregate, and the
  * persisted IVF-PQ index's lists and probes.
  */
class CodebookKernelEquivalenceSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** The replaced formulation, verbatim in its arithmetic. */
  private object Literal {

    def scores(q: Column, model: KMeansModel): Seq[Column] =
      model.centroids.toSeq.map { c =>
        val cLit = typedlit(c.map(_.toDouble).toSeq)
        val c2 = c.map(v => v * v).sum
        lit(c2.toDouble) - lit(2.0) * graft.expr.VectorExprs.vecDot(q, cLit)
      }

    def clusterOf(scoreArr: Column): Column =
      (array_position(scoreArr, array_min(scoreArr)) - 1).cast("int")

    def quantized(df: DataFrame, idCol: String, vecCol: String,
        scale: Long): DataFrame =
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("__id"),
          KMeans.quantize(col(vecCol), scale).as("__q"))

    def withScores(q: DataFrame, model: KMeansModel): DataFrame =
      q.withColumn("__s", array(scores(col("__q"), model): _*))

    def assign(df: DataFrame, idCol: String, vecCol: String,
        model: KMeansModel): DataFrame = {
      val q = quantized(df, idCol, vecCol, model.scale)
      val x2 = graft.expr.VectorExprs.vecDot(col("__q"), col("__q"))
      withScores(q, model).select(col("__id").as(idCol),
        clusterOf(col("__s")).as("cluster"),
        (x2 + array_min(col("__s"))).cast("long").as("dist"))
    }

    def seeds(q: DataFrame, k: Int): Array[Row] =
      q.orderBy(md5(col("__id").cast("string").cast("binary")).asc,
          col("__id").asc)
        .limit(k).select(col("__q")).collect()

    def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
        iterations: Int, scale: Long): KMeansModel = {
      val q = quantized(df, idCol, vecCol, scale)
      var model = KMeansModel(scale,
        seeds(q, k).map(_.getSeq[Double](0).map(_.toLong).toArray))
      if (model.k == 0) return model
      for (_ <- 1 to iterations) {
        val updated = withScores(q, model)
          .select(clusterOf(col("__s")).as("__c"),
            posexplode(col("__q")).as(Seq("__pos", "__v")))
          .groupBy(col("__c"), col("__pos"))
          .agg(sum(col("__v")).as("__sum"), count(lit(1)).as("__n"))
          .select(col("__c"), col("__pos"),
            floor(col("__sum") / col("__n")).as("__cv"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (c, rows) =>
            c -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray
          }
        model = KMeansModel(scale, model.centroids.zipWithIndex.map {
          case (old, j) => updated.getOrElse(j, old)
        })
      }
      model
    }

    def fitSubspaces(df: DataFrame, idCol: String, vecCol: String,
        dims: Int, m: Int, k: Int, iterations: Int,
        scale: Long): Array[KMeansModel] = {
      val subDim = dims / m
      val q = quantized(df, idCol, vecCol, scale)
      val seedRows = seeds(q, k)
      var models = Array.tabulate(m) { s =>
        KMeansModel(scale, seedRows.map(
          _.getSeq[Double](0).slice(s * subDim, (s + 1) * subDim)
            .map(_.toLong).toArray))
      }
      if (seedRows.isEmpty) return models
      for (_ <- 1 to iterations) {
        val subClusters = array((0 until m).map { s =>
          clusterOf(array(scores(
            slice(col("__q"), s * subDim + 1, subDim), models(s)): _*))
        }: _*)
        val updated = q.withColumn("__cs", subClusters)
          .select(col("__cs"), posexplode(col("__q")).as(Seq("__pos", "__v")))
          .select((col("__pos") / lit(subDim)).cast("int").as("__s"),
            pmod(col("__pos"), lit(subDim)).cast("int").as("__p"),
            element_at(col("__cs"),
              (col("__pos") / lit(subDim)).cast("int") + 1).as("__c"),
            col("__v"))
          .groupBy(col("__s"), col("__c"), col("__p"))
          .agg(sum(col("__v")).as("__sum"), count(lit(1)).as("__n"))
          .select(col("__s"), col("__c"), col("__p"),
            floor(col("__sum") / col("__n")).as("__cv"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (s, rows) =>
            s -> rows.groupBy(_.getInt(1)).map { case (c, rs) =>
              c -> rs.sortBy(_.getInt(2)).map(_.getLong(3)).toArray
            }
          }
        models = models.zipWithIndex.map { case (old, s) =>
          val upd = updated.getOrElse(s, Map.empty[Int, Array[Long]])
          KMeansModel(scale, old.centroids.zipWithIndex.map {
            case (oc, j) => upd.getOrElse(j, oc)
          })
        }
      }
      models
    }

    def distanceArray(vec: Column, model: KMeansModel): Column = {
      val q = KMeans.quantize(vec, model.scale)
      val x2 = graft.expr.VectorExprs.vecDot(q, q)
      array(scores(q, model).map(s => x2 + s): _*)
    }

    def assignment(vec: Column, model: KMeansModel): Column = {
      val q = KMeans.quantize(vec, model.scale)
      val s = array(scores(q, model): _*)
      val x2 = graft.expr.VectorExprs.vecDot(q, q)
      struct(clusterOf(s).as("cluster"),
        (x2 + array_min(s)).cast("long").as("dist"))
    }

    def subVec(vec: Column, s: Int, subDim: Int): Column =
      slice(vec, s * subDim + 1, subDim)

    def codes(vec: Column, model: PqModel): Seq[Column] =
      (0 until model.m).map(s =>
        assignment(subVec(vec, s, model.subDim), model.models(s)))

    def encode(df: DataFrame, idCol: String, vecCol: String,
        model: PqModel): DataFrame = {
      val asg = codes(col(vecCol), model).zipWithIndex.map {
        case (a, s) => a.as(s"__a$s")
      }
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol) +: asg: _*)
        .select(col(idCol),
          array((0 until model.m).map(s => col(s"__a$s.cluster")): _*)
            .as("pq_code"),
          (0 until model.m).map(s => col(s"__a$s.dist"))
            .reduce(_ + _).as("recon_dist"))
    }

    def errAgg(df: DataFrame, idCol: String, vecCol: String,
        model: PqModel): DataFrame =
      encode(df, idCol, vecCol, model).agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("recon_dist")).cast("long").as("err"))

    def probeTables(probes: DataFrame, idCol: String, vecCol: String,
        model: PqModel): DataFrame = {
      val tab = array((0 until model.m).map(s =>
        distanceArray(subVec(col(vecCol), s, model.subDim),
          model.models(s))): _*)
      probes.filter(col(vecCol).isNotNull)
        .select(col(idCol).as("query_id"), tab.as("__tab"))
    }

    def rankAdc(pairs: DataFrame, model: PqModel, k: Int): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val scored = pairs
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (0 until model.m).map(s =>
            element_at(element_at(col("__tab"), s + 1),
              element_at(col("pq_code"), s + 1) + 1))
            .reduce(_ + _).cast("long").as("adc_dist"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    }

    def adcTopK(probes: DataFrame, codes: DataFrame, idCol: String,
        vecCol: String, model: PqModel, k: Int): DataFrame =
      rankAdc(broadcast(probeTables(probes, idCol, vecCol, model))
        .crossJoin(codes.select(col(idCol).as("neighbor_id"),
          col("pq_code"))), model, k)

    def adcTopKWithin(probes: DataFrame, codes: DataFrame,
        candPairs: DataFrame, idCol: String, vecCol: String,
        model: PqModel, k: Int): DataFrame =
      rankAdc(candPairs.select(col("query_id"), col("neighbor_id"))
        .join(codes.select(col(idCol).as("neighbor_id"), col("pq_code")),
          Seq("neighbor_id"))
        .join(broadcast(probeTables(probes, idCol, vecCol, model)),
          Seq("query_id")), model, k)

    def encodedLists(corpus: DataFrame, idCol: String, vecCol: String,
        cent: DataFrame, model: PqModel): DataFrame = {
      val asg = codes(col("__nv"), model).zipWithIndex.map {
        case (a, s) => a.as(s"__a$s")
      }
      Similarity.invertedLists(corpus, idCol, vecCol, cent)
        .select(col("__list") +: col("neighbor_id") +: col("__nv") +:
          col("__nn") +: asg: _*)
        .select(col("__list").as("list"), col("neighbor_id"),
          array((0 until model.m).map(s => col(s"__a$s.cluster")): _*)
            .as("pq_code"),
          col("__nv").as("vec"), col("__nn").as("vnorm"))
    }

    /** [[PqIndex.topK]]'s stages over the same corpus and coarse codebook
      * with the literal ADC — what the persisted probe must return.
      */
    def ivfPqTopK(probes: DataFrame, corpus: DataFrame, centroids: DataFrame,
        idCol: String, vecCol: String, model: PqModel, k: Int,
        candidateK: Int, nprobe: Int): DataFrame = {
      val cent = Similarity.centFrame(centroids, "centroid_id", "centroid")
      val lists = Similarity.invertedLists(corpus, idCol, vecCol, cent)
      val pairs = Similarity.ivfCandidates(probes, idCol, vecCol, cent,
          lists, nprobe)
        .select("query_id", "neighbor_id")
      Pq.exactRerank(adcTopKWithin(probes, encode(corpus, idCol, vecCol,
          model), pairs, idCol, vecCol, model, candidateK),
        probes, corpus, idCol, vecCol, k)
    }
  }

  // -------------------------------------------------------------- fixtures

  private val dims = 8

  /** Clustered vectors: a one-hot axis plus deterministic noise. */
  private def vec(i: Long, mag: Double): Array[Double] =
    Array.tabulate(dims)(d =>
      mag * ((if (d == (i % dims).toInt) 1.0 else 0.0) +
        (((i * 31 + d * 7) % 11) - 5) / 17.0))

  private def doubles(n: Int, mag: Double = 1.0): DataFrame =
    (0L until n.toLong).map(i => (i, vec(i, mag))).toDF("vec_id", "embedding")

  private def floats(n: Int): DataFrame =
    (0L until n.toLong).map(i => (i, vec(i, 1.0).map(_.toFloat)))
      .toDF("vec_id", "embedding")

  /** A null vector, a null element and a too-short vector, in the
    * corpus's element type.
    */
  private def withEdges(df: DataFrame): DataFrame = {
    val t = org.apache.spark.sql.types.ArrayType(
      df.schema("embedding").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType)
    val edges = Seq[(Long, Seq[java.lang.Double])](
      (900L, null),
      (901L, Seq[java.lang.Double](0.5, null, 0.25, 0.0, 1.0, 0.0, 0.0, 0.0)),
      (902L, Seq[java.lang.Double](0.5, 0.25, 1.0, 0.0, 0.0, 0.5)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast(t))
    df.unionByName(edges)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def same(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType),
      s"$what schema")
    val (g, w) = (sorted(got), sorted(want))
    assert(g.nonEmpty, s"$what is empty")
    assert(g == w, s"$what differs")
  }

  private def sameModel(a: KMeansModel, b: KMeansModel): Unit = {
    assert(a.scale == b.scale)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
  }

  /** A model with codes spread over [-mag, mag] on the grid. */
  private def pqModel(m: Int, k: Int, scale: Long, seed: Int,
      mag: Long = 1L): PqModel = {
    val sub = dims / m
    PqModel(dims, Array.tabulate(m)(s => KMeansModel(scale,
      Array.tabulate(k)(j => Array.tabulate(sub)(d =>
        ((((s + 1) * 7919L * (j + 1) + d * 104729L + seed) % 2001) - 1000) *
          mag * scale / 1000)))))
  }

  test("kernels over equal codebooks are semantically equal, as equal " +
    "array literals were") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val v = BoundReference(0, ArrayType(DoubleType), nullable = true)
    def kernel(model: PqModel) = graft.expr.NearestCentroid(v,
      KMeans.books(model.models.toSeq, model.subDim, onGrid = false))
    val (a, b) = (kernel(pqModel(2, 4, 1000L, 1)), kernel(pqModel(2, 4, 1000L, 1)))
    assert(a.books ne b.books)
    assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(kernel(pqModel(2, 4, 1000L, 2))))
    assert(!a.semanticEquals(kernel(pqModel(2, 4, 999L, 1))))
  }

  // ------------------------------------------------------------ k-means

  test("KMeans.assign and fit: float and double vectors, k = 1, " +
    "non-default scale, large magnitudes") {
    val cases = Seq(
      ("double", doubles(60), 4, 2, 1000L),
      ("float", floats(60), 4, 2, 1000L),
      ("k = 1", doubles(40), 1, 2, 1000L),
      ("scale 37", doubles(60), 5, 2, 37L),
      ("large magnitude", doubles(60, mag = 1.0e5), 4, 2, 1000L))
    for ((what, df, k, iters, scale) <- cases) {
      val want = Literal.fit(df, "vec_id", "embedding", k, iters, scale)
      val got = KMeans.fit(df, "vec_id", "embedding", k, iters, scale)
      withClue(what)(sameModel(got, want))
      same(KMeans.assign(df, "vec_id", "embedding", got),
        Literal.assign(df, "vec_id", "embedding", want), s"$what assign")
    }
  }

  test("equidistant centroids: the tie goes to the lower index in both") {
    // (1, 0) is at squared distance 1 from both (0, 0) and (2, 0); the
    // third centroid only ties at the far point.
    val model = KMeansModel(1L, Array(Array(2L, 0L), Array(0L, 0L),
      Array(0L, 2L)))
    val df = Seq((1L, Array(1.0, 0.0)), (2L, Array(1.0, 1.0)),
      (3L, Array(0.0, 1.0))).toDF("vec_id", "embedding")
    val got = KMeans.assign(df, "vec_id", "embedding", model)
    same(got, Literal.assign(df, "vec_id", "embedding", model), "tie assign")
    assert(sorted(got) == Seq(Row(1L, 0, 1L), Row(2L, 0, 2L), Row(3L, 1, 1L)))
  }

  test("null vector, null element, too-short vector: assign pinned to " +
    "the literal formulation") {
    for (df <- Seq(withEdges(doubles(30)), withEdges(floats(30)))) {
      val model = KMeans.fit(doubles(30), "vec_id", "embedding", 3, 1)
      val got = KMeans.assign(df, "vec_id", "embedding", model)
      same(got, Literal.assign(df, "vec_id", "embedding", model), "edges")
      val edge = got.filter(col("vec_id") >= 900).collect()
        .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
      // The null vector is dropped; a null element and a length
      // mismatch both leave the row with no cluster and no distance.
      assert(edge == Map(901L -> (null, null), 902L -> (null, null)))
    }
    // Fitting over those rows fails (or not) in both the same way.
    val df = withEdges(doubles(30))
    val want = Try(Literal.fit(df, "vec_id", "embedding", 3, 1, 1000L))
    val got = Try(KMeans.fit(df, "vec_id", "embedding", 3, 1))
    assert(got.isSuccess == want.isSuccess)
    for (g <- got; w <- want) sameModel(g, w)
  }

  // ------------------------------------------------------------------ PQ

  test("Pq.fit: the same models as m literal Lloyd chains") {
    for ((df, m, k, scale) <- Seq((doubles(64), 2, 4, 1000L),
        (floats(64), 4, 3, 1000L), (doubles(64), 2, 1, 1000L),
        (doubles(64), 4, 4, 250L), (doubles(64, 1.0e5), 2, 4, 1000L))) {
      val want = Literal.fitSubspaces(df, "vec_id", "embedding", dims, m, k,
        2, scale)
      val got = Pq.fit(df, "vec_id", "embedding", dims, m, k, 2, scale)
      assert(got.dims == dims && got.m == m)
      got.models.zip(want).foreach { case (g, w) => sameModel(g, w) }
    }
  }

  test("Pq.encode, adcTopK and errAgg: codes, recon_dist, adc_dist and " +
    "error aggregates equal, edge rows included") {
    val cases = Seq(
      ("double", withEdges(doubles(48)), pqModel(2, 4, 1000L, 1)),
      ("float", withEdges(floats(48)), pqModel(4, 3, 1000L, 2)),
      ("k = 1", doubles(48), pqModel(2, 1, 1000L, 3)),
      ("scale 7", withEdges(doubles(48)), pqModel(4, 5, 7L, 4)),
      ("large magnitude", doubles(48, 1.0e5),
        pqModel(2, 4, 1000L, 5, mag = 100000L)))
    for ((what, df, model) <- cases) {
      val got = Pq.encode(df, "vec_id", "embedding", model)
      val want = Literal.encode(df, "vec_id", "embedding", model)
      same(got, want, s"$what encode")
      same(Pq.errAgg(df, "vec_id", "embedding", model),
        Literal.errAgg(df, "vec_id", "embedding", model), s"$what errAgg")
      val probes = df.filter(col("vec_id") % 5 === 0 || col("vec_id") >= 900)
      same(Pq.adcTopK(probes, got, "vec_id", "embedding", model, 6),
        Literal.adcTopK(probes, want, "vec_id", "embedding", model, 6),
        s"$what adcTopK")
    }
    // The edge rows' encodings, pinned: the null vector is dropped; a
    // null element or a short slice leaves its subspace without a code
    // and the row without a reconstruction distance.
    val edge = Pq.encode(withEdges(doubles(8)), "vec_id", "embedding",
        pqModel(2, 4, 1000L, 1))
      .filter(col("vec_id") >= 900).collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1).map(_ == null)).toMap
    assert(edge == Map(901L -> Seq(true, false), 902L -> Seq(false, true)))
  }

  test("PqIndex.write lists and topK rows equal the literal formulation") {
    for ((what, df, model) <- Seq(
        ("double", doubles(96), pqModel(2, 4, 1000L, 6)),
        ("float", floats(96), pqModel(4, 3, 1000L, 7)))) {
      val cent = df.filter(pmod(col("vec_id"), lit(12)) === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid"))
      val path = Files.createTempDirectory("pq_kernel").toString
      PqIndex.write(spark, path, df, "vec_id", "embedding", cent, model)
      val gen = s"$path/${PqIndex.liveVersion(spark, path)}"
      val stored = spark.read.parquet(s"$gen/lists")
        .select("list", "neighbor_id", "pq_code", "vec", "vnorm")
      val want = Literal.encodedLists(df, "vec_id", "embedding",
        Similarity.centFrame(cent, "centroid_id", "centroid"), model)
      same(stored.select(col("list").cast("long"), col("neighbor_id"),
          col("pq_code"), col("vec"), col("vnorm")),
        // parquet reads every array back with nullable elements
        want.select(col("list").cast("long"), col("neighbor_id"),
          col("pq_code"), col("vec").cast(stored.schema("vec").dataType),
          col("vnorm")), s"$what lists")
      val probes = df.filter(pmod(col("vec_id"), lit(7)) === 0)
      same(PqIndex.topK(spark, path, probes, "vec_id", "embedding", k = 3,
          candidateK = 12, nprobe = 2),
        Literal.ivfPqTopK(probes, df, cent, "vec_id", "embedding", model,
          k = 3, candidateK = 12, nprobe = 2), s"$what topK")
    }
  }
}
