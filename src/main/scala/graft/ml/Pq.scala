package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.KMeans.KMeansModel

/** Product quantization (Jégou et al., PAMI 2011) — the vector-compression
  * layer under billion-scale ANN: split each d-dim embedding into `m`
  * subvectors, k-means each subspace independently, and store a vector as
  * its m nearest-centroid codes (m bytes at k ≤ 256 vs 4d bytes of float —
  * a 32× shrink at d=64, m=8). Search-side ADC then scores against code
  * tables instead of raw vectors.
  *
  * Everything inherits [[KMeans]]'s integer-exact arithmetic, so codes and
  * reconstruction distances are bit-identical on any engine/partitioning —
  * which is what puts the encoder under the DuckDB oracle gate
  * (`q_pq_encode`, m unrolled Lloyd chains over list slices).
  *
  * Scale shape: `fit` runs m small k-means jobs (model state is m·k·(d/m)
  * longs on the driver — codebook-sized, like any broadcast model; at
  * 100 TB cache the input projection once since each subspace fit re-scans
  * it). `encode` is ONE map-only projection: one
  * [[graft.expr.NearestCentroid]] kernel holds all m codebooks by value
  * and assigns every subspace in one call per row — no join, no shuffle,
  * no per-subspace pass, and a plan whose size does not grow with m·k.
  */
object Pq {

  final case class PqModel(dims: Int, models: Array[KMeansModel]) {
    def m: Int = models.length
    def subDim: Int = dims / m
  }

  /** Per subspace the nearest code and its squared distance —
    * `STRUCT<code: ARRAY<INT>, dist: ARRAY<DOUBLE>>` — of a raw vector
    * column (one kernel call per row).
    */
  private[graft] def nearest(vec: Column, model: PqModel): Column =
    graft.expr.VectorExprs.nearestCentroid(vec, books(model))

  private def books(model: PqModel): graft.expr.Codebooks =
    KMeans.books(model.models.toSeq, model.subDim, onGrid = false)

  /** Fit per-subspace codebooks. `dims` must split evenly into `m`.
    * One fused Lloyd chain for all m subspaces ([[KMeans.fitSubspaces]]):
    * the corpus streams once per iteration, not once per subspace.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, dims: Int, m: Int,
      k: Int, iterations: Int, scale: Long = 1000L): PqModel =
    PqModel(dims,
      KMeans.fitSubspaces(df, idCol, vecCol, dims, m, k, iterations, scale))

  /** Encode every vector: (idCol, pq_code ARRAY<INT>, recon_dist BIGINT).
    * `recon_dist` is the exact summed squared quantized-grid distance to
    * the chosen centroids — the quantization error ADC search inherits.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame = {
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), nearest(col(vecCol), model).as("__a"))
      .select(col(idCol), col("__a.code").as("pq_code"),
        (0 until model.m).map(s => col("__a.dist")(s).cast("long"))
          .reduce(_ + _).as("recon_dist"))
  }

  /** fit + encode — the `q_pq_encode` surface. */
  def fitEncode(df: DataFrame, idCol: String, vecCol: String, dims: Int,
      m: Int, k: Int, iterations: Int, scale: Long = 1000L): DataFrame =
    encode(df, idCol, vecCol, fit(df, idCol, vecCol, dims, m, k, iterations, scale))

  /** Quantization-error DRIFT of a delta cohort against the build
    * cohort under ONE frozen model — the measurable refit trigger for
    * frozen-codebook maintenance ([[graft.ops.PqIndex.append]] /
    * StreamingPqMaintenance): appends stay EXACT under stale codebooks,
    * but a corpus that drifts from the fit distribution quantizes worse
    * and ADC recall decays silently. `recon_dist` is the exact integer
    * squared quantization error [[encode]] already computes, so the
    * monitor costs two map-only encodes + one aggregation and is
    * bit-deterministic (oracle-gated: `q_pq_drift`).
    *
    * One row: (build_n, build_err, delta_n, delta_err, drift_ratio)
    * with drift_ratio = mean(delta recon_dist) / mean(build recon_dist)
    * — schedule a refit + rebuild when it clears the deployment's
    * threshold (FAISS retrains its quantizers on the same signal).
    */
  def quantizationDrift(build: DataFrame, delta: DataFrame, idCol: String,
      vecCol: String, model: PqModel): DataFrame = {
    def errOf(df: DataFrame, tag: String): DataFrame =
      errAgg(df, idCol, vecCol, model)
        .select(col("n").as(s"${tag}_n"), col("err").as(s"${tag}_err"))
    errOf(build, "build").crossJoin(errOf(delta, "delta"))
      .select(col("build_n"), col("build_err"), col("delta_n"),
        col("delta_err"),
        round((col("delta_err") / col("delta_n")) /
          (col("build_err") / col("build_n")), 4).as("drift_ratio"))
  }

  /** `(n, err)` = row count and exact integer Σ recon_dist of `df`
    * under `model` — the ONE encode+aggregate every quantization-error
    * surface shares ([[quantizationDrift]]'s cohort legs,
    * `PqIndex.meanQuantizationError`, the streaming drift/refit
    * monitors). `err` is SQL-NULL when the frame is empty after the
    * null-vector filter — callers must treat n == 0 as "no signal".
    */
  def errAgg(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    encode(df, idCol, vecCol, model).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("recon_dist")).cast("long").as("err"))

  /** Asymmetric-distance top-k (the PQ search side): each probe builds its
    * m×k distance table ONCE (one projection on the broadcast probe side),
    * then every candidate costs m array lookups on its stored code — the
    * corpus never ships vectors, only m-byte codes. `adc_dist` =
    * Σ_s |p_s − c_{code_s}|², exact on the quantized grid.
    *
    * At 100 TB this is the memory-bandwidth win PQ exists for: the
    * scan+broadcast-join side reads 4·m bytes per corpus row instead of
    * 4·d, a dims/m shrink, and the per-pair work is O(m) lookups instead
    * of O(d) multiply-adds.
    *
    * @param codes pre-encoded corpus — (idCol, pq_code) from [[encode]]
    *              (encode once, search many)
    */
  def adcTopK(probes: DataFrame, codes: DataFrame, idCol: String,
      vecCol: String, model: PqModel, k: Int): DataFrame = {
    val p = probeTables(probes, idCol, vecCol, model)
    rankAdc(broadcast(p)
      .crossJoin(codes.select(col(idCol).as("neighbor_id"), col("pq_code"))), k)
  }

  /** [[adcTopK]] restricted to caller-supplied (query_id, neighbor_id)
    * candidate pairs — the seam a coarse quantizer (IVF lists, LSH
    * buckets) plugs into: the ADC scan touches only routed candidates
    * instead of the full code table.
    */
  def adcTopKWithin(probes: DataFrame, codes: DataFrame,
      candPairs: DataFrame, idCol: String, vecCol: String, model: PqModel,
      k: Int): DataFrame = {
    val p = probeTables(probes, idCol, vecCol, model)
    rankAdc(candPairs.select(col("query_id"), col("neighbor_id"))
      .join(codes.select(col(idCol).as("neighbor_id"), col("pq_code")),
        Seq("neighbor_id"))
      .join(broadcast(p), Seq("query_id")), k)
  }

  /** [[adcTopKWithin]] for candidate pairs that ALREADY CARRY their
    * pq_code — the persisted-index seam ([[graft.ops.PqIndex]]): the
    * routed candidate join read the codes off the same
    * partition-pruned scan, so re-joining the full code table would be
    * a second (unpruned) pass for rows the caller is holding.
    */
  def adcTopKOnCoded(probes: DataFrame, codedPairs: DataFrame,
      idCol: String, vecCol: String, model: PqModel, k: Int): DataFrame = {
    val p = probeTables(probes, idCol, vecCol, model)
    rankAdc(codedPairs
      .select(col("query_id"), col("neighbor_id"), col("pq_code"))
      .join(broadcast(p), Seq("query_id")), k)
  }

  /** Per-probe m×k distance tables `|p_s − c_j|²`: (query_id, __tab) —
    * one [[graft.expr.CentroidDistances]] kernel call per probe.
    */
  private def probeTables(probes: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame = {
    val tab = graft.expr.VectorExprs.centroidDistances(col(vecCol), books(model))
    probes.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), tab.as("__tab"))
  }

  /** ADC lookup + per-query rank over (query_id, neighbor_id, __tab,
    * pq_code) pair rows.
    */
  private def rankAdc(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = pairs
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.expr.VectorExprs.adcDistance(col("__tab"),
          col("pq_code").cast("array<int>")).cast("long").as("adc_dist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adc_dist")
  }

  /** Two-stage retrieval — the canonical PQ serving pattern: ADC over the
    * compressed codes proposes `candidateK` candidates per probe (cheap,
    * code-table lookups), then ONLY those candidates are re-scored with
    * exact cosine against the full vectors and cut to `k`. The corpus-wide
    * pass never touches a float vector; exact scoring touches
    * |probes|·candidateK rows — the recall of exact search at nearly the
    * scan cost of codes.
    */
  def adcRerankTopK(probes: DataFrame, corpus: DataFrame, codes: DataFrame,
      idCol: String, vecCol: String, model: PqModel, k: Int,
      candidateK: Int): DataFrame = {
    require(candidateK >= k, "candidateK must be >= k")
    exactRerank(
      adcTopK(probes, codes, idCol, vecCol, model, candidateK)
        .select("query_id", "neighbor_id"),
      probes, corpus, idCol, vecCol, k)
  }

  /** Stage 2 of two-stage retrieval, reusable under ANY candidate
    * generator (full ADC, IVF-routed ADC, LSH buckets): exact-cosine
    * score of the supplied (query_id, neighbor_id) pairs, cut to top-k.
    * The full-vector join touches only the candidate rows.
    */
  def exactRerank(cand: DataFrame, probes: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = graft.ops.Similarity.dot _
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"),
        graft.ops.Similarity.norm(col(vecCol)).as("__nn"))
    val p = probes.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        graft.ops.Similarity.norm(col(vecCol)).as("__qn"))
    val scored = cand.select("query_id", "neighbor_id")
      .join(c, "neighbor_id").join(broadcast(p), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("__qv"), col("__nv")) / (col("__qn") * col("__nn"))).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }
}
