package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Lloyd's k-means over an embedding column — the codebook builder behind
  * IVF partitioning, product quantization, and semantic corpus bucketing
  * (cluster-then-sample curation à la SemDeDup / DSIR pipelines).
  *
  * Everything is INTEGER arithmetic on milli-unit quantized vectors:
  * float k-means is accumulation-order-dependent (a distributed centroid
  * mean disagrees with a sequential one in the last ulps, which can flip
  * an argmin near a Voronoi boundary and cascade), so two runs — or two
  * engines — drift. Quantizing each component to `floor(x * scale)` makes
  * every dot product, centroid sum, and floor-divided mean EXACT (integers
  * below 2^53 in double arithmetic are closed under +/×), so assignments
  * are bit-identical on any engine and any partitioning — which is what
  * puts a 3-iteration fit under the DuckDB oracle gate (`q_kmeans`).
  *
  * Determinism choices, all mirrored by the oracle:
  *  - seeds: the k rows with the smallest `md5(id)` (lexicographic on the
  *    hex, id tiebreak) — uniform over the corpus yet rerun/partition
  *    stable, never `rand()`;
  *  - assignment: argmin of `|c|² − 2·x·c` with centroid-index tiebreak
  *    (|x|² is constant per row and cannot change the argmin);
  *  - update: component-wise `floor(sum / count)`; an emptied cluster
  *    keeps its previous centroid.
  *
  * Scale shape: the model (k × dim longs) lives on the driver — the one
  * legitimately driver-sized object in the loop, same as any broadcast ML
  * model. Per iteration: one MAP-ONLY assignment pass (one
  * [[graft.expr.NearestCentroid]] kernel per row holding the codebook by
  * value — no candidate join, no shuffle, and one plan node whatever k)
  * and one partially-aggregated shuffle of k × dim slim rows for the
  * centroid update. Nothing row-count-sized is ever collected; at 100 TB
  * the quantized projection is the only thing that streams, and it
  * streams once per iteration.
  */
object KMeans {

  /** Fitted model: `centroids(j)` is the milli-unit integer centroid of
    * cluster `j`. Tiny (k × dim longs) — held by value inside the
    * assignment kernel ([[books]]).
    */
  final case class KMeansModel(scale: Long, centroids: Array[Array[Long]]) {
    def k: Int = centroids.length
  }

  /** Milli-unit quantization: `floor(double(x) * scale)` per component,
    * kept as DOUBLE (integer-valued) so the codegen'd dot product applies.
    * float→double widening is exact; ×scale and floor are identical IEEE
    * ops everywhere — the quantized grid is engine-independent.
    */
  def quantize(vec: Column, scale: Long): Column =
    transform(vec, x => floor(x.cast("double") * lit(scale.toDouble)).cast("double"))

  private def quantized(df: DataFrame, idCol: String, vecCol: String,
      scale: Long): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), quantize(col(vecCol), scale).as("__q"))

  /** `models` as one codebook kernel: model `s` scores the vector slice
    * `[s·width, (s+1)·width)` (`width` 0: one model, the whole vector);
    * `onGrid` for input [[quantize]]d already. Scores are `|c|² − 2·x·c`
    * — exact integers, so the argmin is total-ordered with the (score,
    * index) tiebreak: ties resolve to the LOWER centroid index.
    */
  private[graft] def books(models: Seq[KMeansModel], width: Int,
      onGrid: Boolean): graft.expr.Codebooks =
    new graft.expr.Codebooks(models.map(_.centroids).toArray,
      models.map(_.scale).toArray, width, onGrid)

  /** Nearest cluster (0-based) of a quantized vector column. */
  private def nearestOnGrid(q: Column, models: Seq[KMeansModel],
      width: Int): Column =
    graft.expr.VectorExprs.nearestCentroid(q, books(models, width, onGrid = true))
      .getField("code")

  /** Fit `k` centroids with `iterations` Lloyd rounds.
    *
    * @param scale quantization grid (milli-units by default); coarser is
    *              cheaper parquet but blurrier Voronoi cells
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int, scale: Long = 1000L): KMeansModel = {
    require(k > 0, "k must be > 0")
    require(iterations >= 0, "iterations must be >= 0")
    // The quantized projection is LOOP-INVARIANT and rescanned
    // (iterations + 1) times (seeds + each update): persist it for the
    // fit, release on exit. At 100 TB this is the difference between one
    // corpus read and (iterations + 1) of them.
    val q = quantized(df, idCol, vecCol, scale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitOn(q, k, iterations, scale)
    finally q.unpersist(false)
  }

  private def fitOn(q: DataFrame, k: Int, iterations: Int,
      scale: Long): KMeansModel = {
    // Seeds: k smallest md5(id) — TakeOrderedAndProject under the hood, a
    // per-partition top-k then a k-row driver merge, never a global sort.
    val seedRows = q
      .orderBy(md5(col("__id").cast("string").cast("binary")).asc, col("__id").asc)
      .limit(k)
      .select(col("__q"))
      .collect()
    var model = KMeansModel(scale,
      seedRows.map(_.getSeq[Double](0).map(_.toLong).toArray))
    if (model.k == 0) return model // empty corpus: nothing to iterate on

    for (_ <- 1 to iterations) {
      // (cluster, pos)-keyed sums: partial aggregation collapses each map
      // task to ≤ k × dim rows before the shuffle; the collect is k × dim.
      val updated = q
        .select(nearestOnGrid(col("__q"), Seq(model), 0)(0).as("__c"),
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
      // An emptied cluster keeps its previous centroid (deterministic, and
      // keeps k stable instead of silently shrinking the codebook).
      model = KMeansModel(scale,
        model.centroids.zipWithIndex.map { case (old, j) =>
          updated.getOrElse(j, old)
        })
    }
    model
  }

  /** Fit `m` independent codebooks over contiguous `dims/m`-wide slices of
    * the vector — the product-quantization fit — in ONE Lloyd chain
    * instead of m: all m assignments ride in a single map-only projection
    * per iteration and all m updates share one (subspace, cluster, pos)-
    * keyed shuffle. Per-subspace results are BIT-IDENTICAL to m separate
    * [[fit]] calls (assignments never cross subspaces; the md5-seed rows
    * are the same rows for every slice), but the corpus streams once per
    * iteration instead of m times and the job count drops from
    * m·(1 + iterations) to 1 + iterations — at 100 TB the difference
    * between one scan-per-round and a scan-per-round-per-subspace.
    */
  def fitSubspaces(df: DataFrame, idCol: String, vecCol: String, dims: Int,
      m: Int, k: Int, iterations: Int, scale: Long = 1000L): Array[KMeansModel] = {
    require(k > 0, "k must be > 0")
    require(iterations >= 0, "iterations must be >= 0")
    require(m > 0 && dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val subDim = dims / m
    val q = quantized(df, idCol, vecCol, scale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seedRows = q
        .orderBy(md5(col("__id").cast("string").cast("binary")).asc, col("__id").asc)
        .limit(k)
        .select(col("__q"))
        .collect()
      var models = Array.tabulate(m) { s =>
        KMeansModel(scale, seedRows.map(
          _.getSeq[Double](0).slice(s * subDim, (s + 1) * subDim)
            .map(_.toLong).toArray))
      }
      if (seedRows.isEmpty) return models // empty corpus: nothing to iterate
      for (_ <- 1 to iterations) {
        val updated = q
          .withColumn("__cs", nearestOnGrid(col("__q"), models.toSeq, subDim))
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
    } finally q.unpersist(false)
  }

  /** Assign every row to its nearest centroid. Map-only — one
    * [[graft.expr.NearestCentroid]] kernel holds the model by value and
    * quantizes as it scores; no join, no shuffle.
    *
    * @return (idCol, cluster, dist) — `dist` is the exact squared L2
    *         distance on the quantized grid (BIGINT)
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      model: KMeansModel): DataFrame = {
    if (model.k == 0) // degenerate fit (empty corpus): nothing to assign to
      return df.filter(lit(false))
        .select(col(idCol), lit(0).as("cluster"), lit(0L).as("dist"))
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), graft.expr.VectorExprs.nearestCentroid(col(vecCol),
        books(Seq(model), 0, onGrid = false)).as("__a"))
      .select(col(idCol), col("__a.code")(0).as("cluster"),
        col("__a.dist")(0).cast("long").as("dist"))
  }

  /** fit + assign in one call — the `q_kmeans` surface. */
  def fitAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int, scale: Long = 1000L): DataFrame =
    assign(df, idCol, vecCol, fit(df, idCol, vecCol, k, iterations, scale))

  /** The fitted codebook as a DataFrame — feeds
    * [[graft.ops.Similarity.ivfTopKWith]] so the IVF index can partition
    * on learned centroids instead of sampled rows (tighter cells → better
    * recall at the same probe budget).
    */
  def centroidFrame(df: DataFrame, model: KMeansModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, j) => (j, c.map(_.toDouble / model.scale).toSeq) }
      .toSeq.toDF("centroid_id", "centroid")
  }
}
