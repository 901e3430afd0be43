package graft.queries

import graft.Tables
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Vector similarity search over `embeddings` (ARRAY<FLOAT>, dim 64).
  *
  * The brute-force top-k and pairwise-threshold queries are exact and
  * oracle-checked (all arithmetic in DOUBLE, ranks tie-broken on id so
  * both engines agree). The oracle-checked ANN query derives its
  * hyperplanes from md5 ([[Similarity.lshTopKMd5]]) so DuckDB replicates
  * the buckets; prod and the recall spec stay on the xxhash64 planes.
  */
object SimilarityQueries extends QueryGroup {

  /** Remove a per-run index tree once its probe result is materialized.
    * The applicationId-keyed paths give concurrent-run isolation; without
    * this sweep every harness invocation would leave a full index copy
    * under java.io.tmpdir (two parquet copies of the corpus per run).
    * Best-effort: a failed delete costs disk, never correctness. */
  private def deleteTree(s: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    } catch { case _: Exception => () }

  /** Crash-leftover sweep: the per-run deleteTree above never fires when
    * a run is killed mid-query, and each abandoned `graft_ivf_*` tree
    * holds two parquet copies of the corpus. Harness entry points call
    * this once at startup to delete trees NOT owned by the live
    * application id; the one-hour age guard keeps a genuinely concurrent
    * run's fresh trees safe (a full harness pass is minutes, not hours).
    * Best-effort like deleteTree — a failed sweep costs disk, never
    * correctness. */
  def sweepStaleIvfTmp(liveAppId: String): Unit = try {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    // Age by the NEWEST mtime anywhere in the tree, not the top
    // directory's (see LocalFs.newestMtime): parquet writes land in
    // nested list=*/ subdirectories without refreshing the root mtime,
    // so a top-level check could sweep a tree a slow concurrent run is
    // actively appending to.
    import graft.ops.LocalFs.{deleteRecursively, newestMtime}
    // graft_gskew_* are ScaleRehearsal graph-skew edge tables — deleted
    // on normal exit, but a killed rehearsal leaves multi-GB trees that
    // only this sweep reclaims (they carry no appId; the newest-mtime
    // age guard alone protects a live run).
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("graft_ivf_") ||
          f.getName.startsWith("graft_gidx_") ||
          f.getName.startsWith("graft_gskew_") ||
          f.getName.startsWith("graft_sky_") ||
          f.getName.startsWith("graft_rsk_") ||
          f.getName.startsWith("graft_curves_maint_") ||
          f.getName.startsWith("graft_msidx_") ||
          f.getName.startsWith("graft_pqidx_") ||
          f.getName.startsWith("graft_prr_") ||
          f.getName.startsWith("graft_tsk_")) &&
        // contains, not endsWith: most trees put the appId LAST, but
        // graft_curves_maint_<appId>_<corpusName> puts the corpus name
        // after it — an endsWith guard never matched those, leaving only
        // the mtime cutoff between a long beam-sweep read and a
        // concurrently starting app's sweep.
        !f.getName.contains(liveAppId) && newestMtime(f) < cutoff)
      .foreach { d =>
        System.err.println(s"[graft] sweeping stale tmp tree: $d")
        deleteRecursively(d)
      }
  } catch { case _: Exception => () }

  /** Cluster-boosted corpus for the NN-Descent queries: one-hot dims for
    * the row's label (10 dims, 2.0) AND for vec_id mod 4 (4 dims, 2.0)
    * appended to the 64 fixture dims — 40 fine clusters of ~12 whose
    * within-cluster cosine (~0.89) dominates the label-only tier (~0.44)
    * and the cross tier (~0). Two tiers matter: the fine clusters are
    * small enough that the descent's pivot join EXHAUSTS them (exact
    * top-k, the oracle gate), and the label tier is the highway that
    * routes a node toward its fine cluster even when init bucketing gave
    * it no direct cluster-mate. Exact float→double widening plus literal
    * appends — DuckDB builds the bit-identical vectors (see nndBoostSql).
    */
  private def boostedCorpus(emb: org.apache.spark.sql.DataFrame,
      withLabel: Boolean = true) =
    emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        concat(col("embedding").cast("array<double>"),
          array((if (withLabel) (0 until 10).map(j =>
            when(col("label") === j, lit(2.0)).otherwise(lit(0.0)))
          else Seq.empty[org.apache.spark.sql.Column]) ++
            (0 until 4).map(j =>
              when(pmod(col("vec_id"), lit(4)) === j, lit(2.0))
                .otherwise(lit(0.0))): _*))
          .as("vb"))

  /** The boosted-corpus graph family's ONE persisted kNN graph (see
    * [[SharedGraphs]]): built + committed via GraphIndex.write on first
    * touch, probed by q_nndescent, q_ann_graph_topk,
    * q_ann_filtered_graph and q_ann_graph_persist.
    */
  private def sharedBoostedGraphPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedGraphs.ensure(s, dir, "boosted") { path =>
      graft.ops.GraphIndex.write(s, path,
        boostedCorpus(Tables.embeddings(s, dir)), "vec_id", "vb",
        k = 5, rounds = 2, maxDegree = 12, simPrecision = 6)
    }

  /** The EVEN-HALF boosted corpus's shared base graph — one build,
    * three consumers: q_semdedup_nnd PROBES the stored edges (the same
    * knnGraph its oracle replays), while q_ann_graph_delete and
    * q_ann_graph_compact BRANCH it ([[graft.ops.GraphIndex.branch]] —
    * hard-linked snapshot) and mutate their private branches, so
    * neither mutation query pays a from-scratch build NOR can touch
    * what the others read. Oracles are untouched: each replays its full
    * build(+mutate)+walk chain from the raw parquet, so a corrupt
    * shared base fails every consumer's hash.
    */
  private def sharedBoostedEvenGraphPath(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    SharedGraphs.ensure(s, dir, "boosted_even") { path =>
      graft.ops.GraphIndex.write(s, path,
        boostedCorpus(Tables.embeddings(s, dir)
          .filter(pmod(col("vec_id"), lit(2)) === 0)), "vec_id", "vb",
        k = 5, rounds = 2, maxDegree = 12, simPrecision = 6)
    }

  /** The full-corpus %50-codebook IVF base — one build, two consumers:
    * q_ann_ivf_persist probes it (the write path still runs, once, via
    * this builder), q_ann_ivf_delete branches + tombstones its private
    * copy ([[graft.ops.IvfIndex.branch]]).
    */
  private def sharedIvfM50Path(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedGraphs.ensure(s, dir, "ivf_m50") { path =>
      val emb = Tables.embeddings(s, dir)
      val cent = emb.filter(col("embedding").isNotNull)
        .filter(pmod(col("vec_id"), lit(50)) === 0 &&
          col("vec_id") < 12500)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid"))
      graft.ops.IvfIndex.write(path, emb, "vec_id", "embedding", cent)
    }

  /** Shared-tree builders, exposed for harness instrumentation
    * ([[graft.ScaleRehearsal]] pre-charges them as explicit
    * `build:<name>` rows so the first consumer's timing stays a pure
    * probe). Calling one is [[SharedGraphs.ensure]] — build on first
    * touch, memoized after.
    */
  val sharedBuilders: Map[String,
      (org.apache.spark.sql.SparkSession, String) => String] = Map(
    "boosted" -> (sharedBoostedGraphPath _),
    "boosted_even" -> (sharedBoostedEvenGraphPath _),
    "ivf_m50" -> (sharedIvfM50Path _))

  private def nndBoostSqlOf(withLabel: Boolean) =
    ((if (withLabel) (0 until 10)
        .map(j => s"CASE WHEN label=$j THEN 2.0 ELSE 0.0 END")
      else Seq.empty[String]) ++
      (0 until 4).map(j => s"CASE WHEN vec_id%4=$j THEN 2.0 ELSE 0.0 END"))
      .mkString("list_concat(embedding::DOUBLE[], [", ", ", "])")

  private val nndBoostSql = nndBoostSqlOf(withLabel = true)

  /** DuckDB replay of [[graft.ops.NnDescent.knnGraph]] over the boosted
    * corpus — a WITH-chain mirroring the operator statement for
    * statement: salted md5 init buckets, symmetrize→dedup→degree-cap,
    * the new-flagged pivot join, scoring, and the merge top-k, one CTE
    * block per round (generated, like the operator's loop). Cosines are
    * rounded to 6 decimals before every rank on BOTH engines
    * (simPrecision = 6), so a cross-engine ulp cannot flip a mid-round
    * rank; `e$rounds` is the final (id, nbr, cos) graph.
    */
  /** One descent round per CTE block, replaying [[NnDescent.descend]]
    * from the flagged edge set `e$start` (rounds run start …
    * start+rounds−1, producing `e${start+rounds}`). Factored out of
    * [[nndReplaySql]] so the compact replay can run the SAME rounds
    * over a pruned-and-flagged init instead of the bucket init.
    */
  private def nndRoundsSql(start: Int, rounds: Int, k: Int,
      deg: Int): String = {
    def cosFn(a: String, b: String) =
      s"round(list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b))), 6)"
    (start until start + rounds).map { r =>
      s"""s$r AS (
         |  SELECT id, nbr, max(cos) AS cos, bool_or(nw) AS nw FROM (
         |    SELECT id, nbr, cos, nw FROM e$r
         |    UNION ALL SELECT nbr, id, cos, nw FROM e$r) GROUP BY id, nbr),
         |c$r AS MATERIALIZED (
         |  SELECT id, nbr, nw FROM (
         |    SELECT id, nbr, nw,
         |      row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr ASC) AS rr
         |    FROM s$r) WHERE rr <= $deg),
         |p$r AS (
         |  SELECT DISTINCT x.nbr AS u, y.nbr AS w
         |  FROM c$r x JOIN c$r y ON x.id = y.id AND x.nbr < y.nbr
         |  WHERE x.nw OR y.nw),
         |d$r AS MATERIALIZED (
         |  SELECT p.u, p.w, ${cosFn("a.v", "b.v")} AS cos
         |  FROM p$r p JOIN e a ON a.vec_id = p.u JOIN e b ON b.vec_id = p.w),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT id, nbr, cos, (mo = 0) AS nw FROM (
         |    SELECT id, nbr, cos, mo,
         |      row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr ASC) AS rr
         |    FROM (SELECT id, nbr, max(cos) AS cos, max(o) AS mo FROM (
         |      SELECT id, nbr, cos, 1 AS o FROM e$r
         |      UNION ALL SELECT u, w, cos, 0 FROM d$r
         |      UNION ALL SELECT w, u, cos, 0 FROM d$r) GROUP BY id, nbr))
         |  WHERE rr <= $k)""".stripMargin
    }.mkString(",\n")
  }

  /** DuckDB replay of [[graft.ops.GraphIndex.compact]] after a delete:
    * prune every edge touching a deleted id out of the built graph
    * (`e$buildRounds`), flag the SURVIVING edges of nodes that lost a
    * neighbor, and run the same descent rounds the engine's repair
    * runs — the repaired graph is `e${buildRounds + 1 + rounds}`.
    * `delPred` renders the delete predicate for an id expression.
    */
  private def compactReplaySql(buildRounds: Int, k: Int, deg: Int,
      rounds: Int, delPred: String => String): String = {
    val g0 = s"e$buildRounds"
    val init = buildRounds + 1
    s"""holes AS (
       |  SELECT DISTINCT ed.id FROM $g0 ed
       |  WHERE NOT (${delPred("ed.id")}) AND (${delPred("ed.nbr")})),
       |e$init AS MATERIALIZED (
       |  SELECT ed.id, ed.nbr, ed.cos,
       |    (ed.id IN (SELECT id FROM holes)) AS nw
       |  FROM $g0 ed
       |  WHERE NOT (${delPred("ed.id")}) AND NOT (${delPred("ed.nbr")})),
       |${nndRoundsSql(init, rounds, k, deg)}""".stripMargin
  }

  private def nndReplaySql(k: Int, rounds: Int, initTables: Int,
      bucketSize: Int, deg: Int, salt: String,
      corpusWhere: String = "", boostSql: String = nndBoostSql): String = {
    def cosFn(a: String, b: String) =
      s"round(list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b))), 6)"
    val tablesVals = (0 until initTables).map(t => s"($t)").mkString(",")
    val init =
      s"""e AS MATERIALIZED (SELECT vec_id, $boostSql AS v
         |  FROM embeddings WHERE embedding IS NOT NULL$corpusWhere),
         |bk AS MATERIALIZED (
         |  SELECT t.t, e.vec_id AS id, e.v,
         |    CAST(('0x' || substr(md5('$salt' || t.t || ':' || CAST(e.vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % (SELECT greatest(1, count(*)//$bucketSize) FROM e) AS bkt
         |  FROM e, (VALUES $tablesVals) t(t)),
         |ip AS (
         |  SELECT x.id AS u, y.id AS w, ${cosFn("x.v", "y.v")} AS cos
         |  FROM bk x JOIN bk y ON x.t = y.t AND x.bkt = y.bkt AND x.id < y.id),
         |e0 AS MATERIALIZED (
         |  SELECT id, nbr, cos, true AS nw FROM (
         |    SELECT id, nbr, cos,
         |      row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr ASC) AS rr
         |    FROM (SELECT id, nbr, max(cos) AS cos FROM (
         |      SELECT u AS id, w AS nbr, cos FROM ip
         |      UNION ALL SELECT w, u, cos FROM ip) GROUP BY id, nbr))
         |  WHERE rr <= $k)""".stripMargin
    s"WITH $init,\n${nndRoundsSql(0, rounds, k, deg)}"
  }

  /** DuckDB replay of [[graft.ops.GraphSearch.topK]] over the
    * [[nndReplaySql]] graph (`e$graphRounds`) — small-world overlay
    * (row_number ordinal + md5 mod n), undirected adjacency, md5 entry
    * set, then one beam block per round: expand-unexpanded → anti-join
    * beam → score → merge (old rows turn expanded) → top-`beam` cut.
    * The Spark side's early exit is output-equivalent to the fixed
    * round count here: a fully-expanded beam generates no candidates,
    * so the extra blocks are identity (same argument as the descent's).
    */
  private def graphSearchReplaySql(graphRounds: Int, k: Int, beam: Int,
      rounds: Int, entries: Int, overlay: Int, salt: String,
      qWhere: String, corpus: String = "e", graphCte: String = "",
      edgeWhere: String = ""): String = {
    def cosFn(a: String, b: String) =
      s"round(list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b))), 6)"
    def md5i(s: String) =
      s"CAST(('0x' || substr(md5($s), 1, 15)) AS BIGINT)"
    val jVals = (0 until overlay).map(j => s"($j)").mkString(",")
    // The stored edge lists the walk reads: the build replay's final
    // graph by default; a caller-named CTE (compact replay) or a pruned
    // view (tombstone-masked walk — edgeWhere drops BOTH endpoints of a
    // deleted id, exactly GraphIndex.edges' masked read) otherwise.
    // Walk-side frames (entries, overlay ordinals/targets, probes,
    // scoring vectors) come from `corpus` — the survivor view when the
    // engine passes a filtered corpus to GraphSearch.topK.
    val gsrc = if (graphCte.nonEmpty) graphCte else s"e$graphRounds"
    val setup =
      s"""ordv AS (SELECT vec_id AS tgt,
         |    row_number() OVER (ORDER BY vec_id ASC) - 1 AS o FROM $corpus),
         |jmp AS (
         |  SELECT x.id, o.tgt AS nbr
         |  FROM (SELECT $corpus.vec_id AS id,
         |          ${md5i(s"'$salt:l' || j.j || ':' || CAST($corpus.vec_id AS VARCHAR)")}
         |            % (SELECT count(*) FROM $corpus) AS oo
         |        FROM $corpus, (VALUES $jVals) j(j)) x
         |  JOIN ordv o ON o.o = x.oo
         |  WHERE o.tgt <> x.id),
         |gb AS (SELECT id, nbr FROM $gsrc$edgeWhere),
         |g AS MATERIALIZED (
         |  SELECT id, nbr FROM gb UNION ALL SELECT id, nbr FROM jmp
         |  UNION ALL SELECT nbr, id FROM gb
         |  UNION ALL SELECT nbr, id FROM jmp),
         |qs AS (SELECT vec_id AS qid, v AS qv FROM $corpus WHERE $qWhere),
         |ent AS (SELECT vec_id AS node, v FROM $corpus
         |  ORDER BY ${md5i(s"'$salt:' || CAST(vec_id AS VARCHAR)")} ASC,
         |    vec_id ASC LIMIT $entries),
         |wb0 AS MATERIALIZED (
         |  SELECT qid, node, cos, false AS ex FROM (
         |    SELECT qid, node, cos,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, node ASC) AS rn
         |    FROM (SELECT q.qid, n.node, ${cosFn("q.qv", "n.v")} AS cos
         |          FROM qs q, ent n))
         |  WHERE rn <= $beam)""".stripMargin
    val roundBlocks = (1 to rounds).map { r =>
      s"""wc$r AS (
         |  SELECT DISTINCT b.qid, g.nbr AS node
         |  FROM wb${r - 1} b JOIN g ON g.id = b.node
         |  WHERE NOT b.ex AND NOT EXISTS (
         |    SELECT 1 FROM wb${r - 1} x WHERE x.qid = b.qid AND x.node = g.nbr)),
         |ws$r AS (
         |  SELECT c.qid, c.node, ${cosFn("q.qv", "ev.v")} AS cos
         |  FROM wc$r c JOIN $corpus ev ON ev.vec_id = c.node
         |  JOIN qs q ON q.qid = c.qid),
         |wb$r AS MATERIALIZED (
         |  SELECT qid, node, cos, ex FROM (
         |    SELECT qid, node, cos, ex,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, node ASC) AS rn
         |    FROM (SELECT qid, node, max(cos) AS cos, bool_or(ex) AS ex FROM (
         |      SELECT qid, node, cos, true AS ex FROM wb${r - 1}
         |      UNION ALL SELECT qid, node, cos, false FROM ws$r)
         |      GROUP BY qid, node))
         |  WHERE rn <= $beam),""".stripMargin
    }.mkString("\n")
    val fin =
      s"""fin AS (
         |  SELECT qid AS query_id, node AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, node ASC) AS INT) AS rank
         |  FROM wb$rounds)""".stripMargin
    s"$setup,\n$roundBlocks\n$fin"
  }

  val queries: Map[String, Q] = Map(
    // Norms + dims: the sanity surface for the vector math.
    "q_vector_norms" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          round(Similarity.norm(col("embedding")), 4).as("norm"))
    }),

    // Symmetric int8 quantization: engine-portable codes (all arithmetic
    // in double), summarized per vector so the parity check covers every
    // component (sum/min/max/saturation count pin the code vector).
    "q_embedding_quantize" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("__q"))
        .select(col("vec_id"),
          round(col("__q.scale").cast("double"), 6).as("scale"),
          aggregate(col("__q.codes"), lit(0L), (a, v) => a + v).as("q_sum"),
          array_min(col("__q.codes")).cast("long").as("q_min"),
          array_max(col("__q.codes")).cast("long").as("q_max"),
          size(filter(col("__q.codes"), c => abs(c) === 127)).cast("long")
            .as("n_sat"))
    }),

    // Packed-int8 scoring: quantize → pack to BINARY (1 byte/component —
    // the 100 TB storage form) → codegen'd exact integer dot per probe
    // pair. BIGINT results, so the hash gate pins every byte of the
    // packed codes via the products.
    "q_int8_dot" -> ((s, dir) => {
      val qz = Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("q"))
        .select(col("vec_id"),
          graft.expr.Int8Vec.packInt8(col("q.codes")).as("codes"))
      val probes = qz.filter(col("vec_id") < 5)
        .select(col("vec_id").as("id_a"), col("codes").as("ca"))
      val cands = qz.select(col("vec_id").as("id_b"), col("codes").as("cb"))
      broadcast(probes).join(cands, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.expr.Int8Vec.int8Dot(col("ca"), col("cb")).as("int_dot"))
    }),

    // Johnson–Lindenstrauss random projection (ops.RandomProjection):
    // 64-dim → 16-dim through an md5-derived matrix, one codegen'd
    // map-only expression per row (expr.PlaneProject — no broadcast, no
    // shuffle). Output pins every projected component via sum + per-dim
    // first/min/max summary.
    "q_random_projection" -> ((s, dir) => {
      val proj = graft.ops.RandomProjection.project(
        col("embedding"), outDim = 16, dims = 64)
      Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), proj.as("__p"))
        .select(col("vec_id"),
          size(col("__p")).cast("int").as("k"),
          round(aggregate(col("__p"), lit(0.0), (a, v) => a + v), 4)
            .as("p_sum"),
          round(element_at(col("__p"), 1), 4).as("p0"),
          round(array_min(col("__p")), 4).as("p_min"),
          round(array_max(col("__p")), 4).as("p_max"))
    }),

    // JL distance-preservation eval: squared-distance ratios (scaled by
    // d/k) over a deterministic probe subset — the quantity the JL lemma
    // bounds around 1. Companion spec asserts the concentration; the
    // oracle pins the exact ratios.
    "q_jl_distortion" -> ((s, dir) => {
      graft.ops.RandomProjection.distortion(Tables.embeddings(s, dir),
          "vec_id", "embedding", outDim = 16, dims = 64, probeIds = 24)
        .select(col("id_a"), col("id_b"), round(col("ratio"), 4).as("ratio"))
    }),

    // Brute-force cosine top-k for a probe batch (vec_id < 20, k = 5).
    "q_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // Embedding near-dup pairs above a cosine threshold (brute force).
    "q_embedding_neardup" -> ((s, dir) => {
      Dedup2.embeddingNearDupBrute(Tables.embeddings(s, dir), 0.4)
    }),

    // Hard-negative mining for embedding-model training: for each anchor,
    // the top-3 most-similar vectors whose LABEL DIFFERS — the
    // highest-loss negatives a contrastive trainer wants, and exactly the
    // composition a 100 TB pipeline runs as ANN-top-k → label anti-filter
    // → per-anchor rank (the filter rides the ranked stream; the brute
    // pair join here is the oracle-exact stand-in for the IVF probe).
    "q_hard_negatives" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val anchors = emb.filter(col("vec_id") < 15)
      val pairs = Similarity.bruteForceTopK(
        anchors, emb, "vec_id", "embedding", k = 60)
        .join(anchors.select(col("vec_id").as("query_id"),
          col("label").as("__al")), "query_id")
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("neg_label")), "neighbor_id")
        .filter(col("neg_label") =!= col("__al"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rank").asc)
      pairs.withColumn("neg_rank", row_number().over(w))
        .filter(col("neg_rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("neg_rank"),
          col("neg_label"))
    }),

    // MMR diversification of two queries' top-8 candidate pools (λ=1/2,
    // pick 4): the post-retrieval de-redundancy step. Greedy steps run
    // relationally across both queries at once; relevance and pairwise
    // sims quantize to an integer 1e-6 grid before the marginal score,
    // so the argmax compares exact longs (score_micro = rel_µ − maxsim_µ).
    "q_mmr_diversify" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cand = Similarity.bruteForceTopK(
        emb.filter(col("vec_id").isin(3L, 7L)), emb, "vec_id", "embedding",
        k = 8)
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
          "neighbor_id")
      graft.ops.Mmr.select(cand, "query_id", "neighbor_id", "embedding",
        "cos", k = 4)
        .select(col("query_id"), col("neighbor_id"), col("pick"),
          col("score_micro"))
    }),

    // Same top-k through the typed partial-aggregating TopKAggregator —
    // identical rows, map-side-reduced shuffle.
    "q_cosine_topk_agg" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopKAgg(
        emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // LSH-bucketed ANN top-k — the scale path. md5-derived planes so the
    // oracle replicates the buckets exactly; prod (and the recall spec)
    // stay on the xxhash64 planes via Similarity.lshTopK.
    "q_ann_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopKMd5(
        emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", k = 3,
        dims = 64, numPlanes = 6, tables = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          (round(col("cos"), 4) + lit(0.0)).as("cos"))
    }),

    // Multi-probe LSH: ONE table, 6 planes, probes also visit all 6
    // Hamming-1 buckets — an extra table's recall for zero extra index.
    "q_ann_mp_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopKMd5MultiProbe(
        emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", k = 3,
        dims = 64, numPlanes = 6, tables = 1, flips = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          (round(col("cos"), 4) + lit(0.0)).as("cos"))
    }),

    // IVF-flat ANN — the other scale path: inverted lists from
    // deterministic sampled centroids (id % 25), probe 3 nearest lists.
    "q_ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(
        emb.filter(col("vec_id") < 30), emb, "vec_id", "embedding", k = 3,
        centroidMod = 25, nprobe = 3, centroidCap = 12500L)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"), (round(col("cos"), 4) + lit(0.0)).as("cos"))
    }),

    // Coarse-routing REFIT TRIGGER — q_pq_drift's sibling for the IVF
    // layer: the %25 codebook plays the "build-time fit", and the odd
    // half's mean angular slack to its best centroid is ratioed against
    // the even half's under that one frozen codebook. Per-row error is
    // quantized to 1e-4 BEFORE the sum (integer-exact aggregate — a raw
    // double sum's hash flaps with accumulation order). The halves are
    // iid so the gated ratio sits near 1 — the oracle pins the
    // MACHINERY (argmax routing + quantized error sums); the
    // planted-drift direction is spec-gated (IvfIndexSpec,
    // StreamingIvfDriftSpec).
    "q_ivf_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cent = emb.filter(col("embedding").isNotNull)
        .filter(pmod(col("vec_id"), lit(25)) === 0 &&
          col("vec_id") < 12500)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid"))
      Similarity.routingDrift(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", cent)
    }),

    // Build-once/probe-many IVF: the inverted lists are PERSISTED
    // (parquet, partitioned by Voronoi cell) on the SHARED full-corpus
    // %50-codebook tree (sharedIvfM50Path — the write path runs once
    // per process, through IvfIndex.write exactly as before) and the
    // probe runs from the stored artifact — must reproduce the inline
    // result exactly (the oracle is a from-scratch replay over the raw
    // parquet, so a corrupt shared tree fails this hash AND
    // q_ann_ivf_delete's).
    "q_ann_ivf_persist" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val path = sharedIvfM50Path(s, dir)
      graft.ops.IvfIndex.topK(s, path,
        emb.filter(col("vec_id") < 30),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"), (round(col("cos"), 4) + lit(0.0)).as("cos"))
    }),

    // Incremental IVF maintenance: build the persisted index on the EVEN
    // half of the corpus, append the odd half as a delta (stored-codebook
    // assignment, append-mode partitioned write touching only the delta's
    // lists), then probe — the result must equal a from-scratch build
    // over the full corpus, which is exactly what the oracle computes.
    "q_ann_ivf_upsert" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cent = emb.filter(col("embedding").isNotNull)
        .filter(pmod(col("vec_id"), lit(50)) === 0 && col("vec_id") < 12500)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      // Same per-application isolation as q_ann_ivf_persist: the
      // write→append→probe sequence is stateful and must not race a
      // concurrent run or inherit a crashed run's half-appended tree.
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_upsert_" +
        new java.io.File(dir).getName + "_" + s.sparkContext.applicationId
      graft.ops.IvfIndex.write(path,
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", cent)
      graft.ops.IvfIndex.append(s, path,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding")
      val probed = graft.ops.IvfIndex.topK(s, path,
        emb.filter(col("vec_id") < 30),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"), (round(col("cos"), 4) + lit(0.0)).as("cos"))
        .localCheckpoint(true) // materialize before the tree is deleted
      deleteTree(s, path)
      probed
    }),

    // Drift-triggered REFIT on the persisted IVF index — q_ivf_drift's
    // ACTION, q_ann_ivfpq_refit's routing-layer sibling: build the
    // index over the EVEN half with the %25 codebook rule applied to
    // the even half only — which can sample ONLY the even multiples of
    // 25 (the "stale cells" state: every odd multiple of 25 is
    // missing) — append the odd half under those frozen cells, then
    // IvfIndex.refit: the same value-keyed rule (%25, <12500)
    // re-applied over the index's own live rows now draws the odd
    // multiples too, and the rebuilt Voronoi partition is bit-identical
    // to a from-scratch full-corpus build's — so the oracle is
    // q_ann_ivf_topk's VERBATIM (full %25 codebook, full lists).
    "q_ann_ivf_refit" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val staleCent = even.filter(col("embedding").isNotNull)
        .filter(pmod(col("vec_id"), lit(25)) === 0 && col("vec_id") < 12500)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_refit_" +
        new java.io.File(dir).getName + "_" + s.sparkContext.applicationId
      graft.ops.IvfIndex.write(path, even, "vec_id", "embedding",
        staleCent)
      graft.ops.IvfIndex.append(s, path,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding")
      graft.ops.IvfIndex.refit(s, path, centroidMod = 25,
        centroidCap = 12500)
      val probed = graft.ops.IvfIndex.topK(s, path,
        emb.filter(col("vec_id") < 30),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"), (round(col("cos"), 4) + lit(0.0)).as("cos"))
        .localCheckpoint(true) // materialize before the tree is deleted
      deleteTree(s, path)
      probed
    }),

    // Tombstone deletes on the persisted IVF index: BRANCH the shared
    // full-corpus tree (IvfIndex.branch — a hard-linked snapshot, so
    // the mutation pays no rebuild and cannot touch what
    // q_ann_ivf_persist reads), delete every vec_id ≡ 3 (mod 7) on the
    // private branch, probe — the result must equal a from-scratch
    // build over the surviving corpus, which is exactly what the
    // oracle computes. Deletes are anti-joined out of the candidate
    // stream after the DPP-pruned list scan; compact folds them in and
    // clears the backlog (spec-gated).
    "q_ann_ivf_delete" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = sharedIvfM50Path(s, dir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_delete_" +
        new java.io.File(dir).getName + "_" + s.sparkContext.applicationId
      graft.ops.IvfIndex.branch(s, base, path)
      graft.ops.IvfIndex.delete(s, path,
        emb.filter(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id")),
        "vec_id")
      val probed = graft.ops.IvfIndex.topK(s, path,
        emb.filter(col("vec_id") < 30),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"), (round(col("cos"), 4) + lit(0.0)).as("cos"))
        .localCheckpoint(true) // materialize before the tree is deleted
      deleteTree(s, path)
      probed
    }),

    // Generation ROLLBACK on the IVF layout (`ivf_v{n}` VersionedTree
    // generations, whose compact consumes the folded generation's mask),
    // completing retention/rollback across all four persisted families:
    // branch the shared full-corpus tree, ship a BAD delete (every
    // vec_id ≡ 1 mod 5) and compact it with retain = 2 (the survivor
    // rewrite commits, the pre-delete tree is kept, the folded mask is
    // consumed), then roll back — the compacted generation retires and
    // the probe must equal the PRISTINE full-corpus build, which is
    // exactly what the oracle replays (the q_ann_graph_rollback
    // stance). If rollback failed to retire the bad generation, the
    // mod-5 ids would be missing from the beam and every hash would
    // flip; if compact failed to retain, rollback would throw.
    "q_ann_ivf_rollback" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = sharedIvfM50Path(s, dir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_rbk_" +
        new java.io.File(dir).getName + "_" + s.sparkContext.applicationId
      graft.ops.IvfIndex.branch(s, base, path)
      graft.ops.IvfIndex.delete(s, path,
        emb.filter(pmod(col("vec_id"), lit(5)) === 1).select(col("vec_id")),
        "vec_id")
      graft.ops.IvfIndex.compact(s, path, retain = 2)
      graft.ops.IvfIndex.rollback(s, path)
      val probed = graft.ops.IvfIndex.topK(s, path,
        emb.filter(col("vec_id") >= 30 && col("vec_id") < 60),
        "vec_id", "embedding", k = 3, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("int").as("rank"), (round(col("cos"), 4) + lit(0.0)).as("cos"))
        .localCheckpoint(true) // materialize before the tree is deleted
      deleteTree(s, path)
      probed
    }),

    // DBSCAN over LSH-bucketed eps-pairs — the SCALE path's own green
    // row: q_dbscan charges a brute eps-pair oracle side by explicit
    // choice; this query feeds Dbscan.cluster from Similarity.lshPairsMd5
    // (same-bucket candidates, exact-cosine verified, Σ|bucket|² bound)
    // and the oracle replays the SAME buckets + pair table in SQL — the
    // gate pins the clustering over the bucketed pair graph, which is
    // exactly what runs at 100 TB.
    "q_dbscan_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
      // targetBucket keeps pair volume linear at scale (adaptive plane
      // count — see lshPairsMd5); a no-op at the sf0.01 oracle tier, so
      // the fixed-4-plane DuckDB replay below still matches.
      val pairs = Similarity.lshPairsMd5(emb, "vec_id", "embedding",
        threshold = 0.3, dims = 64, numPlanes = 4, tables = 4,
        targetBucket = 256)
      graft.ml.Dbscan.cluster(emb, pairs, "vec_id", "id_a", "id_b",
          minPts = 4)
        .select(col("id"), col("role"),
          coalesce(col("cluster"), lit(-1L)).cast("long").as("cluster"))
    }),

    // NN-Descent kNN graph (Dong et al., WWW'11) over the cluster-boosted
    // corpus (boostedCorpus above: 40 fine clusters at cos ~0.89, a label
    // tier at ~0.44, cross below 0.11, both engines building identical
    // vectors). The oracle REPLAYS the descent round for round — md5 init
    // buckets, 6-decimal cosine quantization before every rank, id tie-
    // breaks — the same stance as the md5-plane LSH queries: the gate
    // pins the ALGORITHM, not a recall claim (NN-Descent is a local
    // search; measured recall lives in NnDescentSpec).
    //
    // Served from the SHARED persisted GraphIndex (SharedGraphs: built
    // once per harness process, probed by the whole boosted-graph
    // family): the stored (id, nbr, cos) lists reconstruct knnGraph's
    // rank by the same (cos DESC, nbr ASC) window, so this query now
    // gates build + parquet round trip + rank reconstruction, and the
    // identical build stops being charged four times across the family.
    "q_nndescent" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val path = sharedBoostedGraphPath(s, dir)
      graft.ops.GraphIndex.edges(s, path)
        .withColumn("rank", row_number().over(Window.partitionBy("id")
          .orderBy(col("cos").desc, col("nbr").asc)))
        .select(col("id").as("query_id"), col("nbr").as("neighbor_id"),
          col("rank"))
    }),

    // Graph-guided ANN search (the HNSW/NSG query shape): beam search
    // over the NN-Descent graph + small-world overlay, from md5 entry
    // points — the batch-probe path that beats IVF recall at equal
    // scoring budget once the graph exists (measured in tools/AnnCurves;
    // recall spec in GraphSearchSpec). The oracle replays graph build AND
    // walk round for round (graphSearchReplaySql), same stance as
    // q_nndescent: the gate pins the algorithm.
    // Probes the SHARED persisted graph (SharedGraphs) instead of
    // rebuilding it: the walk is identical over stored (id, nbr) lists.
    "q_ann_graph_topk" -> ((s, dir) => {
      val corpus = boostedCorpus(Tables.embeddings(s, dir))
      val path = sharedBoostedGraphPath(s, dir)
      graft.ops.GraphSearch.topK(
        graft.ops.GraphIndex.edges(s, path), "id", "nbr",
        corpus, "vec_id", "vb",
        corpus.filter(col("vec_id") < 20), "vec_id", "vb",
        k = 5, beam = 10, rounds = 2, entries = 4, overlay = 2,
        simPrecision = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // Late-interaction retrieval (ColBERT MaxSim, Khattab & Zaharia
    // SIGIR'20): 64-dim rows cut into four 16-dim token vectors, score =
    // position-ordered Σ over query tokens of the max doc-token cosine
    // (6-dp quantized, the replay contract). This gates the EXACT
    // scorer; the token-ANN candidate path is spec-gated (MaxSimSpec:
    // rerank ≡ brute on candidates, recall measured).
    "q_maxsim" -> ((s, dir) => {
      def toks(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), posexplode(array((0 until 4).map(t =>
          slice(col("embedding").cast("array<double>"),
            t * 16 + 1, 16)): _*)).as(Seq("pos", "tv")))
      val emb = Tables.embeddings(s, dir)
      graft.ops.MaxSim.topK(toks(emb.filter(col("vec_id") < 10)),
          toks(emb), "vec_id", "pos", "tv", k = 5, simPrecision = 6)
        .select(col("query_id"), col("doc_id"), col("rank"),
          (round(col("maxsim"), 6) + lit(0.0)).as("maxsim"))
    }),

    // Filtered ANN on the GRAPH path (filtered-HNSW semantics): the
    // beam walk's pool post-filters by the predicate and re-ranks to k —
    // label<8 matches ~80% ≫ threshold, so the broad branch fires. The
    // oracle replays graph build + walk (the q_ann_graph_topk chain)
    // then applies the same filter + rank-order re-rank.
    // Probes the SHARED persisted graph (SharedGraphs): knnGraph over
    // the label-joined corpus ignores the extra column, so the stored
    // lists are the same graph this query used to rebuild.
    "q_ann_filtered_graph" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = boostedCorpus(emb)
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      val path = sharedBoostedGraphPath(s, dir)
      graft.ops.FilteredAnn.topKGraph(
        graft.ops.GraphIndex.edges(s, path), "id", "nbr",
        corpus.filter(col("vec_id") < 20), corpus, "vec_id", "vb",
        col("label") < 8, k = 5, beam = 10,
        selectivityThreshold = 0.1, rounds = 2, entries = 4,
        overlay = 2, simPrecision = 6)
    }),

    // The token-ANN MaxSim scale path under the hash gate, on md5
    // planes so the SQL replays it end to end: each 16-dim query token
    // probes 2 tables × 4 md5-derived hyperplanes, keeps its tokenK=8
    // best doc-token hits (cos desc, (doc, pos) asc tie-break), the
    // owning documents become the candidate set, and the exact MaxSim
    // fold reranks candidates only — the ColBERT candidate-generation
    // architecture with every stage replayed by the oracle.
    "q_maxsim_ann" -> ((s, dir) => {
      def toks(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), posexplode(array((0 until 4).map(t =>
          slice(col("embedding").cast("array<double>"),
            t * 16 + 1, 16)): _*)).as(Seq("pos", "tv")))
      val emb = Tables.embeddings(s, dir)
      graft.ops.MaxSim.topKViaAnnMd5(toks(emb.filter(col("vec_id") < 10)),
          toks(emb), "vec_id", "pos", "tv", k = 5, dims = 16,
          tokenK = 8, numPlanes = 4, tables = 2, simPrecision = 6)
        .select(col("query_id"), col("doc_id"), col("rank"),
          (round(col("maxsim"), 6) + lit(0.0)).as("maxsim"))
    }),

    // Persisted-token-index round trip under the hash gate: write the
    // ColBERT token index (md5-plane buckets per table, versioned
    // commit), probe through the ARTIFACT, assert-by-oracle that
    // persistence is invisible — identical SQL to q_maxsim_ann (the
    // q_ann_ivf_persist stance: the round trip adds no math).
    "q_maxsim_index" -> ((s, dir) => {
      def toks(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), posexplode(array((0 until 4).map(t =>
          slice(col("embedding").cast("array<double>"),
            t * 16 + 1, 16)): _*)).as(Seq("pos", "tv")))
      val emb = Tables.embeddings(s, dir)
      val path = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_msidx_${s.sparkContext.applicationId}"
      graft.ops.MaxSimIndex.write(s, path, toks(emb), "vec_id", "pos",
        "tv", dims = 16, numPlanes = 4, tables = 2)
      val out = graft.ops.MaxSimIndex.topK(s, path,
          toks(emb.filter(col("vec_id") < 10)), "vec_id", "pos", "tv",
          k = 5, tokenK = 8, simPrecision = 6)
        .select(col("query_id"), col("doc_id"), col("rank"),
          (round(col("maxsim"), 6) + lit(0.0)).as("maxsim"))
        .localCheckpoint(true) // eager: materialize before the tree dies
      deleteTree(s, path)
      out
    }),

    // Tombstone deletes on the persisted token index (the IVF delete
    // pattern): build over the full corpus, delete every vec_id ≡ 3
    // (mod 7), probe — the mask lands BEFORE the per-query-token tokenK
    // cut, so the result EXACTLY equals a from-scratch build over the
    // survivors, which is what the oracle computes (maxsimAnnSqlOf with
    // the survivor filter on the stored side). Compact/resurrect are
    // spec-gated (MaxSimIndexSpec).
    "q_maxsim_delete" -> ((s, dir) => {
      def toks(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), posexplode(array((0 until 4).map(t =>
          slice(col("embedding").cast("array<double>"),
            t * 16 + 1, 16)): _*)).as(Seq("pos", "tv")))
      val emb = Tables.embeddings(s, dir)
      val path = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_msidx_del_${s.sparkContext.applicationId}"
      graft.ops.MaxSimIndex.write(s, path, toks(emb), "vec_id", "pos",
        "tv", dims = 16, numPlanes = 4, tables = 2)
      graft.ops.MaxSimIndex.delete(s, path,
        emb.filter(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id")),
        "vec_id")
      val out = graft.ops.MaxSimIndex.topK(s, path,
          toks(emb.filter(col("vec_id") < 10)), "vec_id", "pos", "tv",
          k = 5, tokenK = 8, simPrecision = 6)
        .select(col("query_id"), col("doc_id"), col("rank"),
          (round(col("maxsim"), 6) + lit(0.0)).as("maxsim"))
        .localCheckpoint(true) // eager: materialize before the tree dies
      deleteTree(s, path)
      out
    }),

    // Filtered ANN (predicate + vector top-k, the standard vector-store
    // query): selectivity-routed (FilteredAnn.route) — label=3 matches
    // ~10% of the corpus, under the 0.15 threshold, so the SELECTIVE
    // branch fires: exact pre-filter brute over qualifying rows, which
    // is what the oracle computes. The broad post-filter branch and the
    // routing flip are spec-gated (FilteredAnnSpec).
    "q_ann_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ops.FilteredAnn.topK(emb.filter(col("vec_id") < 15), emb,
        "vec_id", "embedding", col("label") === 3, k = 5,
        selectivityThreshold = 0.15)
    }),

    // The BROAD branch under the hash gate, on md5 planes so the SQL
    // replays it end to end: label<8 matches ~80% ≫ threshold, so the
    // post-filter path fires — over-fetch cut (least(m, ceil(k·over/frac))
    // computed from the same counts on both engines), predicate
    // semi-join, exact-cosine re-rank to k.
    "q_ann_filtered_broad" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ops.FilteredAnn.topKMd5(emb.filter(col("vec_id") < 30), emb,
        "vec_id", "embedding", col("label") < 8, k = 5, dims = 64,
        selectivityThreshold = 0.1, overFetch = 3.0,
        numPlanes = 6, tables = 2)
    }),

    // Persisted-graph round trip under the hash gate: write the
    // GraphIndex, hit it with a FULLY-REDELIVERED maintenance batch
    // (every id already stored — must drop all adds and write no new
    // generation), then beam-walk the persisted edges. The result must
    // equal the in-memory build+walk, so the oracle is the same
    // build+walk replay as q_ann_graph_topk — a mismatch means the
    // parquet round trip, the version resolution, or the replay no-op
    // corrupted the graph. (Genuinely-new-node stitching is gated by
    // StreamingGraphMaintenanceSpec's batch≡stream≡brute equivalence.)
    // The write itself happens on the family's SHARED tree (SharedGraphs
    // builds through GraphIndex.write on first touch — commit marker,
    // version resolution and all); this query then exercises the two
    // stateful stages the other consumers don't: a FULLY-REDELIVERED
    // maintenance batch (every id already stored — must drop all adds
    // and write no new generation, or every later consumer of the
    // shared tree hashes wrong) and the persisted-edge walk.
    "q_ann_graph_persist" -> ((s, dir) => {
      val corpus = boostedCorpus(Tables.embeddings(s, dir))
      val path = sharedBoostedGraphPath(s, dir)
      val genBefore = graft.ops.GraphIndex.liveVersion(s, path)
      graft.ops.GraphIndex.applyMaintenanceBatch(s, path,
        corpus.filter(col("vec_id") < 50), "vec_id", "vb",
        k = 5, rounds = 2, maxDegree = 12, simPrecision = 6)
      // The redelivered batch MUST be a no-op on the SHARED family tree
      // (vec_id < 50 is fully stored): if the batch or the boosted
      // corpus ever drifts, a new generation committed here would make
      // every other family consumer's result order-dependent — fail
      // fast instead of corrupting them silently.
      val genAfter = graft.ops.GraphIndex.liveVersion(s, path)
      require(genAfter == genBefore, "q_ann_graph_persist: the replayed " +
        s"maintenance batch mutated the SHARED boosted graph " +
        s"($genBefore -> $genAfter) — the batch is no longer a no-op")
      graft.ops.GraphSearch.topK(
          graft.ops.GraphIndex.edges(s, path), "id", "nbr",
          corpus, "vec_id", "vb",
          corpus.filter(col("vec_id") < 20), "vec_id", "vb",
          k = 5, beam = 10, rounds = 2, entries = 4, overlay = 2,
          simPrecision = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // Tombstone deletes on the persisted graph index: BRANCH the shared
    // even-half base graph (GraphIndex.branch — a hard-linked snapshot;
    // the mutation pays no rebuild and cannot touch the base the other
    // consumers read), delete every vec_id ≡ 3 (mod 7) on the private
    // branch, then beam-walk WITHOUT compacting — the masked read drops
    // deleted ids from BOTH edge endpoints (never returned, never
    // routed through), and the oracle replays build → prune → walk over
    // the survivor corpus exactly (entries/overlay/probes all drawn
    // from survivors, mirroring the survivor corpus the engine passes
    // to GraphSearch).
    "q_ann_graph_delete" -> ((s, dir) => {
      val corpus = boostedCorpus(Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(2)) === 0))
      val surv = corpus.filter(pmod(col("vec_id"), lit(7)) =!= 3)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_gidx_del_" +
        new java.io.File(dir).getName + "_" + s.sparkContext.applicationId
      graft.ops.GraphIndex.branch(s, sharedBoostedEvenGraphPath(s, dir),
        path)
      graft.ops.GraphIndex.delete(s, path,
        corpus.filter(pmod(col("vec_id"), lit(7)) === 3)
          .select(col("vec_id")), "vec_id")
      val probed = graft.ops.GraphSearch.topK(
          graft.ops.GraphIndex.edges(s, path), "id", "nbr",
          surv, "vec_id", "vb",
          surv.filter(col("vec_id") < 40), "vec_id", "vb",
          k = 5, beam = 10, rounds = 2, entries = 4, overlay = 2,
          simPrecision = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        // Eager: materialize before the index tree is deleted.
        .localCheckpoint(true)
      deleteTree(s, path)
      probed
    }),

    // Delete → COMPACT → probe on the graph index: compact folds the
    // tombstones into a fresh generation and REPAIRS the holes — every
    // surviving node that lost a neighbor refills via the same localized
    // descent maintenance uses. The oracle replays the whole chain:
    // build (nndReplaySql) → prune + hole-flag + descent rounds
    // (compactReplaySql) → walk over the repaired graph from the
    // survivor corpus. Runs on a BRANCH of the shared even-half base
    // graph (same corpus as q_ann_graph_delete since r16 — branching
    // made the private rebuild the quarter-corpus fixture existed to
    // cheapen unnecessary, and the richer corpus exercises the same
    // hole shapes). The delete set is mod-31 (~3%, well under
    // 1/maxDegree) so the repair stays LOCALIZED — a 1-in-7 delete
    // flags nearly every neighborhood and the "localized" descent
    // degenerates into a full rebuild pass, which is exactly the
    // regime compact should not be used in.
    "q_ann_graph_compact" -> ((s, dir) => {
      val corpus = boostedCorpus(Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(2)) === 0))
      val surv = corpus.filter(pmod(col("vec_id"), lit(31)) =!= 3)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_gidx_cpt_" +
        new java.io.File(dir).getName + "_" + s.sparkContext.applicationId
      graft.ops.GraphIndex.branch(s, sharedBoostedEvenGraphPath(s, dir),
        path)
      graft.ops.GraphIndex.delete(s, path,
        corpus.filter(pmod(col("vec_id"), lit(31)) === 3)
          .select(col("vec_id")), "vec_id")
      graft.ops.GraphIndex.compact(s, path, k = 5, rounds = 2,
        maxDegree = 12, simPrecision = 6)
      val probed = graft.ops.GraphSearch.topK(
          graft.ops.GraphIndex.edges(s, path), "id", "nbr",
          surv, "vec_id", "vb",
          surv.filter(col("vec_id") < 80), "vec_id", "vb",
          k = 5, beam = 10, rounds = 2, entries = 4, overlay = 2,
          simPrecision = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        // Eager: materialize before the index tree is deleted.
        .localCheckpoint(true)
      deleteTree(s, path)
      probed
    }),

    // Generation ROLLBACK under the hash gate: branch the shared
    // even-half base, commit a deliberately-wrong maintenance
    // generation (odd-id adds, retain = 2 so history survives), roll
    // it back, walk — the result must equal a walk of the pristine
    // build, which is exactly what the oracle replays. If rollback
    // failed to retire the bad generation, the stitched odd nodes
    // would surface in the beam and every hash would flip.
    "q_ann_graph_rollback" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = boostedCorpus(emb.filter(pmod(col("vec_id"), lit(2)) === 0))
      val bad = boostedCorpus(emb.filter(pmod(col("vec_id"), lit(2)) === 1))
        .filter(col("vec_id") < 40)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_gidx_rbk_" +
        new java.io.File(dir).getName + "_" + s.sparkContext.applicationId
      graft.ops.GraphIndex.branch(s, sharedBoostedEvenGraphPath(s, dir),
        path)
      // rounds = 0: the bad generation still COMMITS (seeds-only
      // stitch — new nodes enter the graph, edges flip), which is all
      // rollback needs to prove; its refinement quality is irrelevant
      // because the whole point is that it gets rolled back (the
      // oracle replays only the pristine build), so the localized
      // descent's cost is not spent on a throwaway generation.
      graft.ops.GraphIndex.applyMaintenanceBatch(s, path, bad,
        "vec_id", "vb", k = 5, rounds = 0, maxDegree = 12,
        simPrecision = 6, retain = 2)
      graft.ops.GraphIndex.rollback(s, path)
      val probed = graft.ops.GraphSearch.topK(
          graft.ops.GraphIndex.edges(s, path), "id", "nbr",
          corpus, "vec_id", "vb",
          corpus.filter(col("vec_id") < 40), "vec_id", "vb",
          k = 5, beam = 10, rounds = 2, entries = 4, overlay = 2,
          simPrecision = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        // Eager: materialize before the branch tree is deleted.
        .localCheckpoint(true)
      deleteTree(s, path)
      probed
    }),

    // q_hybrid_rrf with the dense leg on the GRAPH path: the sparse BM25
    // top-20 fuses (RRF) with a graph-search top-20 instead of the brute
    // corpus scan — the corpus-scale shape of the RAG first stage (the
    // brute leg is |corpus| scored pairs per probe; this one is
    // beam·(k+overlay)·rounds). Self-filtered + re-ranked like the brute
    // leg's excludeSelf. Oracle replays build + walk + BM25 + fusion.
    "q_hybrid_rrf_graph" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ts = graft.text.Bm25.termScores(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("hash", "join", "scan"))
      val bm = ts.groupBy("doc_id").agg(
          max(when(col("term") === "hash", col("score"))).as("__s1"),
          max(when(col("term") === "join", col("score"))).as("__s2"),
          max(when(col("term") === "scan", col("score"))).as("__s3"))
        .select(col("doc_id"),
          round(coalesce(col("__s1"), lit(0.0))
            + coalesce(col("__s2"), lit(0.0))
            + coalesce(col("__s3"), lit(0.0)), 4).as("__bm"))
      val sparse = bm.orderBy(col("__bm").desc, col("doc_id").asc).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("__bm").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank"))
        .localCheckpoint(false)
      val corpus = Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vb"))
      val g = graft.ops.NnDescent.knnGraph(corpus, "vec_id", "vb",
        k = 5, rounds = 2, maxDegree = 12, simPrecision = 6)
      val walked = graft.ops.GraphSearch.topK(g, "query_id", "neighbor_id",
        corpus, "vec_id", "vb",
        corpus.filter(col("vec_id") === 7), "vec_id", "vb",
        k = 21, beam = 42, rounds = 2, entries = 4, overlay = 2,
        simPrecision = 6)
      // 21-row bounded re-rank after the self drop (excludeSelf parity).
      val dense = walked.filter(col("neighbor_id") =!= 7)
        .withColumn("__r", row_number().over(Window.orderBy(col("rank").asc)))
        .filter(col("__r") <= 20)
        .select(col("neighbor_id").as("doc_id"), col("__r").as("rank"))
        .localCheckpoint(false)
      graft.text.Retrieval.rrfFuse(Seq(sparse, dense), "doc_id", "rank")
        .join(sparse.select(col("doc_id"), col("rank").as("sparse_rank")),
          Seq("doc_id"), "left")
        .join(dense.select(col("doc_id"), col("rank").as("dense_rank")),
          Seq("doc_id"), "left")
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
        .select(col("doc_id"), col("sparse_rank"), col("dense_rank"),
          (round(col("rrf"), 6) + lit(0.0)).as("rrf"))
    }),

    // SemDeDup fed by the NN-Descent graph instead of k-means blocking:
    // the kNN edges ARE the candidate pairs (cos already scored, no
    // vector joins), capped at n·k regardless of cluster skew. tau=0.889
    // sits inside the fine-cluster cosine band [0.876, 0.901], so both
    // kept and shadowed rows exercise the τ-comparison.
    "q_semdedup_nnd" -> ((s, dir) => {
      // Even-half corpus: a second fixture shape for the replay, at a
      // quarter of the pair work. The kNN edges come from the SHARED
      // even-half base graph (the identical knnGraph build this query
      // used to run inline — the oracle still replays the full build,
      // so a corrupt shared artifact fails this hash too).
      val corpus = boostedCorpus(Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(2)) === 0))
      val knn = graft.ops.GraphIndex.edges(s,
        sharedBoostedEvenGraphPath(s, dir))
      graft.ops.SemDedup.keepFlagsFromPairs(corpus, "vec_id", knn,
        "id", "nbr", "cos", tau = 0.889)
    }),

    // Hard-negative mining from the kNN GRAPH instead of per-anchor brute
    // probes (q_hard_negatives): every node's negatives fall out of the
    // one NN-Descent pass — the corpus-wide shape a contrastive-training
    // pipeline runs, n·k candidates total instead of |anchors|·|corpus|.
    // The boost here is mod4-ONLY (labels mix within each cluster), so
    // the label-differs filter keeps most edges; the oracle replays the
    // descent and applies the same filter + re-rank.
    "q_hard_negatives_nnd" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val knn = graft.ops.NnDescent.knnGraph(
        boostedCorpus(emb, withLabel = false), "vec_id", "vb",
        k = 5, rounds = 2, maxDegree = 12, salt = "nnh", simPrecision = 6)
      val lab = emb.filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("label"))
      knn
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("__al")), Seq("query_id"))
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("neg_label")), Seq("neighbor_id"))
        .filter(col("neg_label") =!= col("__al"))
        .withColumn("neg_rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("rank").asc)))
        .filter(col("neg_rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("neg_rank"),
          col("neg_label"))
    }),

    // Semantic dedup clusters: connected components over the embedding
    // near-dup graph (cosine > 0.4) — the modern "keep one per meaning
    // cluster" step, composed from the existing brute pair generator
    // (oracle baseline; the scale path feeds lshTopK pairs into the same
    // relational large-star/small-star CC).
    "q_embedding_clusters" -> ((s, dir) => {
      val pairs = graft.ops.Dedup.embeddingNearDupBrute(
        Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
      graft.ops.Dedup.connectedComponents(pairs, "id_a", "id_b")
    }),

    // Matryoshka truncation curve (Kusupati et al., NeurIPS 2022): how
    // much retrieval quality survives when embeddings are cut to their
    // PREFIX dims — recall@10 of 16- and 32-dim prefixes against the
    // full 64-dim neighbors, the measurement behind "store a quarter of
    // the bytes" decisions. Same brute top-k machinery per truncation;
    // the 64-dim reference is computed once and checkpointed.
    "q_matryoshka" -> ((s, dir) => {
      import graft.ops.Similarity
      val emb = Tables.embeddings(s, dir)
      def topkAt(d: Int) = {
        def trunc(f: org.apache.spark.sql.DataFrame) = f.select(
          col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
        Similarity.bruteForceTopK(trunc(emb.filter(col("vec_id") < 20)),
            trunc(emb), "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"))
      }
      val full = topkAt(64).localCheckpoint(false)
      val byDim = (Seq(16, 32).map(d => topkAt(d).withColumn("dims", lit(d)))
        :+ full.withColumn("dims", lit(64))).reduce(_ unionByName _)
      val totals = byDim.groupBy("dims").agg(count(lit(1)).as("n_total"))
      val hits = byDim.join(full, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("dims").agg(count(lit(1)).as("n_hits"))
      totals.join(hits, Seq("dims"), "left")
        .select(col("dims"), col("n_total"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) /
            col("n_total").cast("double"), 4).as("recall"))
    }),

    // DBSCAN density clusters (KDD'96) over the cosine eps-neighbor
    // graph: cores by degree, clusters = components of the core-core
    // subgraph, borders attach to the MIN core-neighbor cluster
    // (deterministic where the paper's scan is order-dependent), the
    // rest is NOISE — the density companion to q_kmeans/q_semdedup.
    // Brute pairs here are the oracle-exact stand-in for the LSH/IVF
    // candidate generators (the q_embedding_clusters contract).
    "q_dbscan" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
      val pairs = graft.ops.Dedup.embeddingNearDupBrute(
        emb, "vec_id", "embedding", 0.3)
      graft.ml.Dbscan.cluster(emb, pairs, "vec_id", "id_a", "id_b",
          minPts = 4)
        .select(col("id"), col("role"),
          coalesce(col("cluster"), lit(-1L)).cast("long").as("cluster"))
    }),

    // Per-label centroid (avg pooling) — the IVF coarse-quantizer /
    // class-prototype step. Relational shape: posexplode to (label, pos)
    // keys, partial-agg'd average per dimension — the shuffle carries
    // scalars keyed by (label, pos), never whole vectors, and no driver
    // ever materializes a vector list.
    "q_embedding_centroid" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg((round(avg(col("x").cast("double")), 4) + lit(0.0)).as("c"))
    }))

  // Wrapper so the near-dup query reuses the library op with rounded output.
  private object Dedup2 {
    def embeddingNearDupBrute(emb: org.apache.spark.sql.DataFrame,
        threshold: Double): org.apache.spark.sql.DataFrame =
      graft.ops.Dedup.embeddingNearDupBrute(emb, "vec_id", "embedding", threshold)
        .select(col("id_a"), col("id_b"), (round(col("cos"), 4) + lit(0.0)).as("cos"))
  }

  // Mirrors MaxSim.topKViaAnnMd5: md5-plane token buckets (2 tables x
  // 4 planes over the 16-dim token slices), per-query-token top-8
  // candidate cut (cos desc, (doc, pos) asc -- the struct-key order),
  // owning-document distinct, then the exact q_maxsim fold over
  // candidates only. Shared verbatim by q_maxsim_ann and
  // q_maxsim_index (persistence adds no math); `docAnd` restricts the
  // STORED side (q_maxsim_delete's survivor filter — applied on the
  // candidate generation's doc buckets, which is all it takes: cand
  // and the rerank joins flow from there).
  private def maxsimAnnSqlOf(docAnd: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |dt AS (SELECT vec_id AS doc_id, t.t AS pos,
        |    list_slice(v, t.t*16+1, t.t*16+16) AS tv
        |  FROM e, (VALUES (0),(1),(2),(3)) t(t)),
        |qt AS (SELECT doc_id AS query_id, pos, tv FROM dt WHERE doc_id < 10),
        |planes AS (
        |  SELECT p, list_transform(range(0, 16),
        |    d -> CAST(('0x' || substr(md5('p_' || CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
        |         / CAST(576460752303423488 AS DOUBLE) - 1.0) AS comps
        |  FROM range(0, 8) t(p)),
        |dproj AS (
        |  SELECT dt.doc_id, dt.pos, planes.p,
        |    list_sum(list_transform(range(1, 17), i -> dt.tv[i] * planes.comps[i])) AS pr
        |  FROM dt CROSS JOIN planes),
        |dbuckets AS (
        |  SELECT doc_id, pos, p // 4 AS t,
        |    sum(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << (p % 4) ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM dproj GROUP BY doc_id, pos, p // 4),
        |hits AS (
        |  SELECT DISTINCT qb.doc_id AS query_id, qb.pos AS qpos,
        |    cb.doc_id AS doc_id, cb.pos AS dpos
        |  FROM dbuckets qb JOIN dbuckets cb ON qb.t = cb.t AND qb.b = cb.b
        |  WHERE qb.doc_id < 10$docAnd),
        |scored AS (
        |  SELECT h.query_id, h.qpos, h.doc_id, h.dpos,
        |    list_dot_product(q.tv, d.tv) /
        |      (sqrt(list_dot_product(q.tv, q.tv)) *
        |       sqrt(list_dot_product(d.tv, d.tv))) AS cos
        |  FROM hits h
        |  JOIN qt q ON q.query_id = h.query_id AND q.pos = h.qpos
        |  JOIN dt d ON d.doc_id = h.doc_id AND d.pos = h.dpos),
        |tk AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id, qpos
        |      ORDER BY cos DESC, doc_id ASC, dpos ASC) AS r
        |  FROM scored),
        |cand AS (SELECT DISTINCT query_id, doc_id FROM tk WHERE r <= 8),
        |pm AS (
        |  SELECT c.query_id, c.doc_id, q.pos,
        |    max(round(list_dot_product(q.tv, d.tv) /
        |      (sqrt(list_dot_product(q.tv, q.tv)) *
        |       sqrt(list_dot_product(d.tv, d.tv))), 6)) AS m
        |  FROM cand c
        |  JOIN qt q ON q.query_id = c.query_id
        |  JOIN dt d ON d.doc_id = c.doc_id
        |  GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    list_sum(list(m ORDER BY pos)) AS ms
        |  FROM pm GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY ms DESC, doc_id ASC) AS INT) AS rank,
        |    round(ms, 6) + 0.0 AS maxsim
        |  FROM sc)
        |SELECT query_id, doc_id, rank, maxsim FROM rk WHERE rank <= 5""".stripMargin

  private val maxsimAnnSql: String = maxsimAnnSqlOf("")

  /** The q_ann_ivf_topk replay (full-corpus %25 codebook), shared
    * verbatim by q_ann_ivf_refit (refit resamples exactly this rule
    * over the live rows).
    */
  private val ivfM25TopkSql: String =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 25 = 0 AND vec_id < 12500),
        |assign AS (
        |  SELECT a.vec_id, a.v, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c),
        |lists AS (SELECT cid AS list, vec_id AS neighbor_id, v
        |  FROM assign WHERE r = 1),
        |pa AS (
        |  SELECT a.vec_id AS query_id, a.v AS qv, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c WHERE a.vec_id < 30),
        |pl AS (SELECT query_id, qv, cid AS list FROM pa WHERE r <= 3),
        |cand AS (
        |  SELECT pl.query_id, l.neighbor_id,
        |    list_cosine_similarity(pl.qv, l.v) AS cos
        |  FROM pl JOIN lists l ON pl.list = l.list
        |  WHERE pl.query_id <> l.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM cand)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) + 0.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_vector_norms" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS norm
        |FROM embeddings""".stripMargin,
    // Same double-domain quantizer: floor(x/scale*127 + 0.5), zero-vector
    // guard, summary stats over the code vector.
    "q_embedding_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale,
        |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
        |      ELSE CAST(floor(CAST(x AS DOUBLE) / CAST(scale AS DOUBLE)
        |        * 127.0 + 0.5) AS INT) END) AS codes
        |  FROM s)
        |SELECT vec_id, round(CAST(scale AS DOUBLE), 6) AS scale,
        |  CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT))) AS BIGINT)
        |    AS q_sum,
        |  CAST(list_min(codes) AS BIGINT) AS q_min,
        |  CAST(list_max(codes) AS BIGINT) AS q_max,
        |  CAST(len(list_filter(codes, c -> abs(c) = 127)) AS BIGINT) AS n_sat
        |FROM q""".stripMargin,
    // Integer products of int8 codes stay < 2^53, so the double
    // list_dot_product is EXACT and casts back to the engine's BIGINT.
    "q_int8_dot" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS scale
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
        |      ELSE CAST(floor(CAST(x AS DOUBLE) / CAST(scale AS DOUBLE)
        |        * 127.0 + 0.5) AS INT) END) AS codes
        |  FROM s)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(list_dot_product(a.codes::DOUBLE[], b.codes::DOUBLE[]) AS BIGINT)
        |    AS int_dot
        |FROM q a JOIN q b ON a.vec_id < 5 AND a.vec_id < b.vec_id""".stripMargin,
    "q_cosine_topk_agg" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.v, b.v) AS cos
        |  FROM e a JOIN e b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 20),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin,
    "q_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.v, b.v) AS cos
        |  FROM e a JOIN e b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 20),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin,
    // Round-for-round algorithm replay (nndReplaySql) — same parameters
    // as the Spark call: k=5, 2 rounds, 2 init tables, bucket size 48
    // (8·(k+1)), degree cap 12.
    "q_nndescent" ->
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnd")}
         |SELECT id AS query_id, nbr AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr ASC) AS INT) AS rank
         |FROM e2""".stripMargin,
    // Graph build replay + walk replay, chained WITH blocks.
    "q_ann_graph_topk" ->
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnd")},
         |${graphSearchReplaySql(graphRounds = 2, k = 5, beam = 10,
             rounds = 2, entries = 4, overlay = 2, salt = "gs",
             qWhere = "vec_id < 20")}
         |SELECT query_id, neighbor_id, rank FROM fin
         |WHERE rank <= 5""".stripMargin,
    // Graph build + walk replay (k = beam: the whole beam is the
    // over-fetch pool), then the broad-branch tail: predicate semi-join
    // + rank-order re-rank to k.
    "q_ann_filtered_graph" ->
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnd")},
         |${graphSearchReplaySql(graphRounds = 2, k = 10, beam = 10,
             rounds = 2, entries = 4, overlay = 2, salt = "gs",
             qWhere = "vec_id < 20")},
         |flt AS (
         |  SELECT f.query_id, f.neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY f.query_id
         |      ORDER BY f.rank ASC) AS INT) AS rank
         |  FROM fin f
         |  JOIN (SELECT vec_id FROM embeddings WHERE label < 8) ql
         |    ON ql.vec_id = f.neighbor_id
         |  WHERE f.rank <= 10 AND f.neighbor_id <> f.query_id)
         |SELECT query_id, neighbor_id, rank FROM flt
         |WHERE rank <= 5""".stripMargin,
    // Same token slicing, per-(query,doc,qtoken) max of 6-dp cosines,
    // position-ORDERED list_sum — the fixed-order double fold.
    "q_maxsim" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |dt AS (SELECT vec_id AS doc_id, t.t AS pos,
        |    list_slice(v, t.t*16+1, t.t*16+16) AS tv
        |  FROM e, (VALUES (0),(1),(2),(3)) t(t)),
        |qt AS (SELECT doc_id AS query_id, pos, tv FROM dt WHERE doc_id < 10),
        |pm AS (
        |  SELECT q.query_id, d.doc_id, q.pos,
        |    max(round(list_dot_product(q.tv, d.tv) /
        |      (sqrt(list_dot_product(q.tv, q.tv)) *
        |       sqrt(list_dot_product(d.tv, d.tv))), 6)) AS m
        |  FROM qt q, dt d GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    list_sum(list(m ORDER BY pos)) AS ms
        |  FROM pm GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY ms DESC, doc_id ASC) AS INT) AS rank,
        |    round(ms, 6) + 0.0 AS maxsim
        |  FROM sc)
        |SELECT query_id, doc_id, rank, maxsim FROM rk WHERE rank <= 5""".stripMargin,

    // Mirrors MaxSim.topKViaAnnMd5: md5-plane token buckets (2 tables ×
    // 4 planes over the 16-dim token slices), per-query-token top-8
    // candidate cut (cos desc, (doc, pos) asc — the struct-key order),
    // owning-document distinct, then the exact q_maxsim fold over
    // candidates only.
    "q_maxsim_ann" -> maxsimAnnSql,
    // Persistence must be invisible in the result: identical oracle to
    // q_maxsim_ann (the artifact round-trip adds no math).
    "q_maxsim_index" -> maxsimAnnSql,
    // Tombstone-masked probe ≡ from-scratch build over the survivors:
    // the same replay with the stored side filtered to survivors (the
    // mask lands before the tokenK cut on both engines).
    "q_maxsim_delete" -> maxsimAnnSqlOf(" AND cb.doc_id % 7 <> 3"),
    // Selective branch = exact brute among qualifying rows.
    "q_ann_filtered" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT vec_id, v FROM e WHERE vec_id < 15),
        |c AS (SELECT vec_id, v FROM e WHERE label = 3),
        |ranked AS (
        |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.v) DESC, c.vec_id ASC)
        |      AS INT) AS rank
        |  FROM a JOIN c ON c.vec_id <> a.vec_id)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin,
    // Broad branch: md5-plane buckets, over-fetch rank cut from the same
    // count arithmetic (frac first, then k·over/frac — the identical
    // IEEE expression order), predicate semi-join, exact-cos re-rank.
    "q_ann_filtered_broad" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |st AS (SELECT count(*) AS n,
        |    count(CASE WHEN label < 8 THEN 1 END) AS m FROM embeddings),
        |fp AS (SELECT least(m,
        |    CAST(ceil((5 * 3.0) / (CAST(m AS DOUBLE) / n)) AS BIGINT))
        |    AS flim FROM st),
        |planes AS (
        |  SELECT p, list_transform(range(0, 64),
        |    d -> CAST(('0x' || substr(md5('p_' || CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
        |         / CAST(576460752303423488 AS DOUBLE) - 1.0) AS comps
        |  FROM range(0, 12) t(p)),
        |proj AS (
        |  SELECT e.vec_id, planes.p,
        |    list_sum(list_transform(range(1, 65), i -> e.v[i] * planes.comps[i])) AS pr
        |  FROM e CROSS JOIN planes),
        |buckets AS (
        |  SELECT vec_id, p // 6 AS t,
        |    sum(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << (p % 6) ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM proj GROUP BY vec_id, p // 6),
        |cand AS (
        |  SELECT DISTINCT pb.vec_id AS query_id, cb.vec_id AS neighbor_id
        |  FROM buckets pb JOIN buckets cb ON pb.t = cb.t AND pb.b = cb.b
        |  WHERE pb.vec_id < 30 AND pb.vec_id <> cb.vec_id),
        |ranked AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, c.neighbor_id ASC) AS r
        |  FROM cand c
        |  JOIN e a ON a.vec_id = c.query_id
        |  JOIN e b ON b.vec_id = c.neighbor_id),
        |fetched AS (SELECT query_id, neighbor_id FROM ranked, fp
        |  WHERE r <= flim),
        |fq AS (SELECT f.query_id, f.neighbor_id FROM fetched f
        |  JOIN embeddings l ON l.vec_id = f.neighbor_id WHERE l.label < 8),
        |rr AS (
        |  SELECT fq.query_id, fq.neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY fq.query_id
        |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, fq.neighbor_id ASC) AS INT) AS rank
        |  FROM fq
        |  JOIN e a ON a.vec_id = fq.query_id
        |  JOIN e b ON b.vec_id = fq.neighbor_id)
        |SELECT query_id, neighbor_id, rank FROM rr WHERE rank <= 5""".stripMargin,
    // The persisted round trip must reproduce the in-memory build+walk:
    // same replay as q_ann_graph_topk.
    "q_ann_graph_persist" ->
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnd")},
         |${graphSearchReplaySql(graphRounds = 2, k = 5, beam = 10,
             rounds = 2, entries = 4, overlay = 2, salt = "gs",
             qWhere = "vec_id < 20")}
         |SELECT query_id, neighbor_id, rank FROM fin
         |WHERE rank <= 5""".stripMargin,
    // Tombstone-masked walk: build over the even half, prune every edge
    // touching a deleted id (both endpoints — GraphIndex.edges' masked
    // read), then walk from the SURVIVOR corpus (entries, overlay
    // ordinals and probes all drawn from sv, mirroring the survivor
    // corpus the engine passes to GraphSearch.topK).
    "q_ann_graph_delete" ->
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnd",
             corpusWhere = " AND vec_id%2=0")},
         |sv AS (SELECT vec_id, v FROM e WHERE vec_id % 7 <> 3),
         |${graphSearchReplaySql(graphRounds = 2, k = 5, beam = 10,
             rounds = 2, entries = 4, overlay = 2, salt = "gs",
             qWhere = "vec_id < 40", corpus = "sv",
             edgeWhere = " WHERE id % 7 <> 3 AND nbr % 7 <> 3")}
         |SELECT query_id, neighbor_id, rank FROM fin
         |WHERE rank <= 5""".stripMargin,
    // Delete → compact → probe: build replay (e0…e2), prune + hole-flag
    // + two repair descent rounds (compactReplaySql → e5), then the walk
    // over the REPAIRED graph from the survivor corpus.
    "q_ann_graph_compact" ->
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnd",
             corpusWhere = " AND vec_id%2=0")},
         |sv AS (SELECT vec_id, v FROM e WHERE vec_id % 31 <> 3),
         |${compactReplaySql(buildRounds = 2, k = 5, deg = 12,
             rounds = 2, delPred = c => s"$c % 31 = 3")},
         |${graphSearchReplaySql(graphRounds = 2, k = 5, beam = 10,
             rounds = 2, entries = 4, overlay = 2, salt = "gs",
             qWhere = "vec_id < 80", corpus = "sv", graphCte = "e5")}
         |SELECT query_id, neighbor_id, rank FROM fin
         |WHERE rank <= 5""".stripMargin,
    // Rollback must restore the pristine build exactly: the oracle is
    // the plain build + walk replay over the even-half corpus (the
    // q_ann_graph_delete chain without the deletes) — the engine's
    // branched tree took a bad generation and rolled it back first.
    "q_ann_graph_rollback" ->
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnd",
             corpusWhere = " AND vec_id%2=0")},
         |${graphSearchReplaySql(graphRounds = 2, k = 5, beam = 10,
             rounds = 2, entries = 4, overlay = 2, salt = "gs",
             qWhere = "vec_id < 40")}
         |SELECT query_id, neighbor_id, rank FROM fin
         |WHERE rank <= 5""".stripMargin,
    // Raw-corpus graph build + walk + the q_hybrid_rrf BM25/fusion SQL.
    "q_hybrid_rrf_graph" -> {
      val k1 = 1.2; val b = 0.75
      val k1p1 = (k1 + 1.0).toString; val oneMb = (1.0 - b).toString
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnd",
             boostSql = "embedding::DOUBLE[]")},
         |${graphSearchReplaySql(graphRounds = 2, k = 21, beam = 42,
             rounds = 2, entries = 4, overlay = 2, salt = "gs",
             qWhere = "vec_id = 7")},
         |dn AS (SELECT doc_id, drank FROM (
         |    SELECT neighbor_id AS doc_id,
         |      row_number() OVER (ORDER BY rank ASC) AS drank
         |    FROM fin WHERE rank <= 21 AND neighbor_id <> 7)
         |  WHERE drank <= 20),
         |toks AS (
         |  SELECT doc_id, unnest(${OracleSql.toksSql}) AS term FROM documents),
         |t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |       WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |       (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl),
         |sc AS (
         |  SELECT tf.doc_id, tf.term,
         |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
         |    ((tf * $k1p1) / (tf + $k1 * ($oneMb + $b * (dl / avgdl)))) AS score
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), st),
         |pb AS (SELECT doc_id,
         |    max(CASE WHEN term = 'hash' THEN score END) AS s1,
         |    max(CASE WHEN term = 'join' THEN score END) AS s2,
         |    max(CASE WHEN term = 'scan' THEN score END) AS s3
         |  FROM sc GROUP BY doc_id),
         |bm AS (SELECT doc_id,
         |    round(coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0), 4)
         |      AS bm FROM pb),
         |sp AS (SELECT doc_id, srank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY bm DESC, doc_id)
         |      AS srank FROM bm)
         |  WHERE srank <= 20),
         |f AS (SELECT doc_id,
         |    sp.srank, dn.drank,
         |    coalesce(1.0 / (60 + sp.srank), 0.0) +
         |      coalesce(1.0 / (60 + dn.drank), 0.0) AS rrf
         |  FROM sp FULL JOIN dn USING (doc_id))
         |SELECT doc_id, CAST(srank AS INT) AS sparse_rank,
         |  CAST(drank AS INT) AS dense_rank, round(rrf, 6) + 0.0 AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
    },
    "q_hard_negatives_nnd" ->
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnh",
             boostSql = nndBoostSqlOf(withLabel = false))},
         |rk AS (
         |  SELECT id, nbr,
         |    row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr ASC) AS rank
         |  FROM e2),
         |lab AS (SELECT vec_id, label FROM embeddings WHERE embedding IS NOT NULL),
         |neg AS (
         |  SELECT rk.id AS query_id, rk.nbr AS neighbor_id,
         |    lb.label AS neg_label,
         |    row_number() OVER (PARTITION BY rk.id ORDER BY rk.rank) AS neg_rank
         |  FROM rk
         |  JOIN lab la ON la.vec_id = rk.id
         |  JOIN lab lb ON lb.vec_id = rk.nbr
         |  WHERE lb.label <> la.label)
         |SELECT query_id, neighbor_id, CAST(neg_rank AS INT) AS neg_rank, neg_label
         |FROM neg WHERE neg_rank <= 3""".stripMargin,
    "q_semdedup_nnd" ->
      s"""${nndReplaySql(k = 5, rounds = 2, initTables = 2,
             bucketSize = 48, deg = 12, salt = "nnd",
             corpusWhere = " AND vec_id%2=0")},
         |sh AS (
         |  SELECT DISTINCT greatest(id, nbr) AS sid FROM e2 WHERE cos > 0.889)
         |SELECT e.vec_id AS id, (sh.sid IS NULL) AS kept
         |FROM e LEFT JOIN sh ON e.vec_id = sh.sid""".stripMargin,
    "q_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) + 0.0 AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) > 0.4""".stripMargin,
    // Same ranked stream as q_cosine_topk, label filter on the ranks.
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT * FROM e WHERE vec_id < 15),
        |p AS (SELECT a.vec_id AS query_id, a.label AS al,
        |    b.vec_id AS neighbor_id, b.label AS neg_label,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id)
        |      AS rank
        |  FROM a JOIN e b ON b.vec_id <> a.vec_id),
        |f AS (SELECT query_id, neighbor_id, neg_label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rank)
        |      AS neg_rank
        |  FROM p WHERE rank <= 60 AND neg_label <> al)
        |SELECT query_id, neighbor_id, CAST(neg_rank AS INT) AS neg_rank,
        |  neg_label
        |FROM f WHERE neg_rank <= 3""".stripMargin,

    // Four greedy steps unrolled; every sim/relevance quantized to the
    // 1e-6 integer grid BEFORE max/argmax, same (score DESC, id ASC)
    // tie-break as the engine.
    "q_mmr_diversify" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (3, 7)),
        |pairs AS (SELECT qid, e.vec_id AS id, e.v,
        |    list_cosine_similarity(qv, e.v) AS rel
        |  FROM q JOIN e ON e.vec_id <> qid),
        |cand AS (SELECT qid, id, v, CAST(round(rel * 1e6) AS BIGINT) AS relq
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY rel DESC, id) AS rn FROM pairs)
        |  WHERE rn <= 8),
        |s1 AS (SELECT qid, id, v, CAST(1 AS INT) AS pick, relq AS score
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY relq DESC, id) AS rn FROM cand)
        |  WHERE rn = 1),
        |m2 AS (SELECT c.qid, c.id,
        |    max(CAST(round(list_cosine_similarity(c.v, s.v) * 1e6)
        |      AS BIGINT)) AS ms
        |  FROM cand c JOIN s1 s ON s.qid = c.qid
        |  WHERE NOT EXISTS (SELECT 1 FROM s1 x
        |    WHERE x.qid = c.qid AND x.id = c.id)
        |  GROUP BY 1, 2),
        |s2 AS (SELECT qid, id, v, CAST(2 AS INT) AS pick, score
        |  FROM (SELECT m.qid, m.id, c.v, c.relq - m.ms AS score,
        |      row_number() OVER (PARTITION BY m.qid
        |        ORDER BY c.relq - m.ms DESC, m.id) AS rn
        |    FROM m2 m JOIN cand c ON c.qid = m.qid AND c.id = m.id)
        |  WHERE rn = 1),
        |sel2 AS (SELECT qid, id, v FROM s1 UNION ALL SELECT qid, id, v FROM s2),
        |m3 AS (SELECT c.qid, c.id,
        |    max(CAST(round(list_cosine_similarity(c.v, s.v) * 1e6)
        |      AS BIGINT)) AS ms
        |  FROM cand c JOIN sel2 s ON s.qid = c.qid
        |  WHERE NOT EXISTS (SELECT 1 FROM sel2 x
        |    WHERE x.qid = c.qid AND x.id = c.id)
        |  GROUP BY 1, 2),
        |s3 AS (SELECT qid, id, v, CAST(3 AS INT) AS pick, score
        |  FROM (SELECT m.qid, m.id, c.v, c.relq - m.ms AS score,
        |      row_number() OVER (PARTITION BY m.qid
        |        ORDER BY c.relq - m.ms DESC, m.id) AS rn
        |    FROM m3 m JOIN cand c ON c.qid = m.qid AND c.id = m.id)
        |  WHERE rn = 1),
        |sel3 AS (SELECT qid, id, v FROM sel2 UNION ALL SELECT qid, id, v FROM s3),
        |m4 AS (SELECT c.qid, c.id,
        |    max(CAST(round(list_cosine_similarity(c.v, s.v) * 1e6)
        |      AS BIGINT)) AS ms
        |  FROM cand c JOIN sel3 s ON s.qid = c.qid
        |  WHERE NOT EXISTS (SELECT 1 FROM sel3 x
        |    WHERE x.qid = c.qid AND x.id = c.id)
        |  GROUP BY 1, 2),
        |s4 AS (SELECT qid, id, v, CAST(4 AS INT) AS pick, score
        |  FROM (SELECT m.qid, m.id, c.v, c.relq - m.ms AS score,
        |      row_number() OVER (PARTITION BY m.qid
        |        ORDER BY c.relq - m.ms DESC, m.id) AS rn
        |    FROM m4 m JOIN cand c ON c.qid = m.qid AND c.id = m.id)
        |  WHERE rn = 1),
        |allp AS (SELECT qid, id, pick, score FROM s1
        |  UNION ALL SELECT qid, id, pick, score FROM s2
        |  UNION ALL SELECT qid, id, pick, score FROM s3
        |  UNION ALL SELECT qid, id, pick, score FROM s4)
        |SELECT qid AS query_id, id AS neighbor_id, pick,
        |  score AS score_micro
        |FROM allp""".stripMargin,
    // Mirrors RandomProjection.project: component (j,d) =
    // md5Hash60('rp_<j>_<d>') / 2^59 - 1.0; same per-row left-to-right
    // dot; summary pins all 16 projected components.
    "q_random_projection" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |m AS (
        |  SELECT j, list_transform(range(0, 64),
        |    d -> CAST(('0x' || substr(md5('rp_' || CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
        |         / CAST(576460752303423488 AS DOUBLE) - 1.0) AS w
        |  FROM range(0, 16) t(j)),
        |p AS (
        |  SELECT e.vec_id, m.j,
        |    list_sum(list_transform(range(1, 65), i -> e.v[i] * m.w[i])) AS y
        |  FROM e CROSS JOIN m)
        |SELECT vec_id, CAST(16 AS INT) AS k,
        |  round(sum(y ORDER BY j), 4) AS p_sum,
        |  round(max(CASE WHEN j = 0 THEN y END), 4) AS p0,
        |  round(min(y), 4) AS p_min,
        |  round(max(y), 4) AS p_max
        |FROM p GROUP BY vec_id""".stripMargin,
    // Same derived matrix; squared-distance ratio scaled by d/k over the
    // probe pairs, identical diff-dot arithmetic on both engines.
    "q_jl_distortion" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL AND vec_id < 24),
        |m AS (
        |  SELECT j, list_transform(range(0, 64),
        |    d -> CAST(('0x' || substr(md5('rp_' || CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
        |         / CAST(576460752303423488 AS DOUBLE) - 1.0) AS w
        |  FROM range(0, 16) t(j)),
        |p AS (
        |  SELECT e.vec_id, m.j,
        |    list_sum(list_transform(range(1, 65), i -> e.v[i] * m.w[i])) AS y
        |  FROM e CROSS JOIN m),
        |dv AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_transform(range(1, 65), i -> a.v[i] - b.v[i]) AS df
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |d2 AS (
        |  SELECT id_a, id_b,
        |    list_sum(list_transform(range(1, 65), i -> df[i] * df[i])) AS dd
        |  FROM dv),
        |p2 AS (
        |  SELECT pa.vec_id AS id_a, pb.vec_id AS id_b,
        |    list_sum(list_transform(range(1, 17), i -> (ya[i] - yb[i]) * (ya[i] - yb[i]))) AS pp
        |  FROM (SELECT vec_id, list(y ORDER BY j) AS ya FROM p GROUP BY vec_id) pa
        |  JOIN (SELECT vec_id, list(y ORDER BY j) AS yb FROM p GROUP BY vec_id) pb
        |    ON pa.vec_id < pb.vec_id)
        |SELECT id_a, id_b, round(pp * 3.0 / (16 * dd), 4) AS ratio
        |FROM d2 JOIN p2 USING (id_a, id_b)
        |WHERE dd > 0""".stripMargin,
    // Mirrors Similarity.lshTopKMd5: comp(p,d) = md5Hash60('p_<p>_<d>')
    // / 2^59 - 1.0; 2 tables x 6 planes; candidates share (table, bucket);
    // exact cosine rank, ties on neighbor_id.
    "q_ann_lsh_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |planes AS (
        |  SELECT p, list_transform(range(0, 64),
        |    d -> CAST(('0x' || substr(md5('p_' || CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
        |         / CAST(576460752303423488 AS DOUBLE) - 1.0) AS comps
        |  FROM range(0, 12) t(p)),
        |proj AS (
        |  SELECT e.vec_id, planes.p,
        |    list_sum(list_transform(range(1, 65), i -> e.v[i] * planes.comps[i])) AS pr
        |  FROM e CROSS JOIN planes),
        |buckets AS (
        |  SELECT vec_id, p // 6 AS t,
        |    sum(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << (p % 6) ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM proj GROUP BY vec_id, p // 6),
        |cand AS (
        |  SELECT DISTINCT pb.vec_id AS query_id, cb.vec_id AS neighbor_id
        |  FROM buckets pb JOIN buckets cb ON pb.t = cb.t AND pb.b = cb.b
        |  WHERE pb.vec_id < 50 AND pb.vec_id <> cb.vec_id),
        |ranked AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    list_cosine_similarity(a.v, b.v) AS cos,
        |    CAST(row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, c.neighbor_id ASC) AS INT) AS rank
        |  FROM cand c
        |  JOIN e a ON a.vec_id = c.query_id
        |  JOIN e b ON b.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) + 0.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin,
    // Same planes/buckets, one table (p 0..5); probe buckets expand to
    // the identity + 6 single-bit xor flips before the bucket join.
    "q_ann_mp_lsh_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |planes AS (
        |  SELECT p, list_transform(range(0, 64),
        |    d -> CAST(('0x' || substr(md5('p_' || CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
        |         / CAST(576460752303423488 AS DOUBLE) - 1.0) AS comps
        |  FROM range(0, 6) t(p)),
        |proj AS (
        |  SELECT e.vec_id, planes.p,
        |    list_sum(list_transform(range(1, 65), i -> e.v[i] * planes.comps[i])) AS pr
        |  FROM e CROSS JOIN planes),
        |buckets AS (
        |  SELECT vec_id,
        |    sum(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM proj GROUP BY vec_id),
        |pbuckets AS (
        |  SELECT vec_id,
        |    CASE WHEN f < 0 THEN b ELSE xor(b, CAST(1 AS BIGINT) << f) END AS b
        |  FROM buckets, range(-1, 6) t2(f) WHERE vec_id < 50),
        |cand AS (
        |  SELECT DISTINCT pb.vec_id AS query_id, cb.vec_id AS neighbor_id
        |  FROM pbuckets pb JOIN buckets cb ON pb.b = cb.b
        |  WHERE pb.vec_id <> cb.vec_id),
        |ranked AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    list_cosine_similarity(a.v, b.v) AS cos,
        |    CAST(row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, c.neighbor_id ASC) AS INT) AS rank
        |  FROM cand c
        |  JOIN e a ON a.vec_id = c.query_id
        |  JOIN e b ON b.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) + 0.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // Mirrors Similarity.ivfTopK: sampled centroids (vec_id % 25 = 0 AND vec_id < 12500),
    // argmax-cosine list assignment (ties → smaller centroid id), 3
    // probed lists, exact-cosine rank with neighbor_id tie-break.
    "q_ann_ivf_topk" -> ivfM25TopkSql,
    // Stale-cells build + frozen append + codebook refit ≡ the
    // from-scratch full-%25-codebook build (the value-keyed rule over
    // the live rows resamples the full corpus), so the same SQL.
    "q_ann_ivf_refit" -> ivfM25TopkSql,

    // Even/odd mean quantized angular slack under the one %25 codebook;
    // per-row error integer-quantized at 1e-4 (the granularity every
    // ranked-cos oracle here already proves both engines agree at).
    "q_ivf_drift" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 25 = 0 AND vec_id < 12500),
        |best AS (
        |  SELECT a.vec_id,
        |    CAST(round((1 - max(list_cosine_similarity(a.v, c.cv))) * 10000) AS BIGINT) AS err
        |  FROM e a CROSS JOIN cent c GROUP BY a.vec_id),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS build_n,
        |        CAST(sum(err) AS BIGINT) AS build_err
        |      FROM best WHERE vec_id % 2 = 0),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS delta_n,
        |        CAST(sum(err) AS BIGINT) AS delta_err
        |      FROM best WHERE vec_id % 2 = 1)
        |SELECT build_n, build_err, delta_n, delta_err,
        |  round((delta_err * 1.0 / delta_n) / (build_err * 1.0 / build_n), 4) AS drift_ratio
        |FROM b, d""".stripMargin,

    // Persistence must be invisible in the result: the q_ann_ivf_topk
    // replay with the shared tree's %50 codebook (the artifact
    // round-trip adds no math; the codebook moved from %25 to %50 in
    // r16 when persist and delete unified on one shared base tree).
    "q_ann_ivf_persist" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0 AND vec_id < 12500),
        |assign AS (
        |  SELECT a.vec_id, a.v, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c),
        |lists AS (SELECT cid AS list, vec_id AS neighbor_id, v
        |  FROM assign WHERE r = 1),
        |pa AS (
        |  SELECT a.vec_id AS query_id, a.v AS qv, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c WHERE a.vec_id < 30),
        |pl AS (SELECT query_id, qv, cid AS list FROM pa WHERE r <= 3),
        |cand AS (
        |  SELECT pl.query_id, l.neighbor_id,
        |    list_cosine_similarity(pl.qv, l.v) AS cos
        |  FROM pl JOIN lists l ON pl.list = l.list
        |  WHERE pl.query_id <> l.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM cand)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) + 0.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin,
    // From-scratch IVF over the FULL corpus with the same %50 codebook:
    // the incremental build/append path must land on exactly this.
    "q_ann_ivf_upsert" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0 AND vec_id < 12500),
        |assign AS (
        |  SELECT a.vec_id, a.v, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c),
        |lists AS (SELECT cid AS list, vec_id AS neighbor_id, v
        |  FROM assign WHERE r = 1),
        |pa AS (
        |  SELECT a.vec_id AS query_id, a.v AS qv, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c WHERE a.vec_id < 30),
        |pl AS (SELECT query_id, qv, cid AS list FROM pa WHERE r <= 3),
        |cand AS (
        |  SELECT pl.query_id, l.neighbor_id,
        |    list_cosine_similarity(pl.qv, l.v) AS cos
        |  FROM pl JOIN lists l ON pl.list = l.list
        |  WHERE pl.query_id <> l.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM cand)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) + 0.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin,
    // From-scratch IVF over the SURVIVING corpus (tombstoned ids gone
    // from the lists; probes unchanged): the delete path must land here.
    "q_ann_ivf_delete" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0 AND vec_id < 12500),
        |assign AS (
        |  SELECT a.vec_id, a.v, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c),
        |lists AS (SELECT cid AS list, vec_id AS neighbor_id, v
        |  FROM assign WHERE r = 1 AND vec_id % 7 <> 3),
        |pa AS (
        |  SELECT a.vec_id AS query_id, a.v AS qv, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c WHERE a.vec_id < 30),
        |pl AS (SELECT query_id, qv, cid AS list FROM pa WHERE r <= 3),
        |cand AS (
        |  SELECT pl.query_id, l.neighbor_id,
        |    list_cosine_similarity(pl.qv, l.v) AS cos
        |  FROM pl JOIN lists l ON pl.list = l.list
        |  WHERE pl.query_id <> l.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM cand)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) + 0.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // Rollback restores the PRISTINE full-corpus tree (the bad mod-5
    // delete and its compaction are retired together), so the oracle is
    // the from-scratch probe over the FULL corpus — no survivor filter.
    "q_ann_ivf_rollback" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0 AND vec_id < 12500),
        |assign AS (
        |  SELECT a.vec_id, a.v, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c),
        |lists AS (SELECT cid AS list, vec_id AS neighbor_id, v
        |  FROM assign WHERE r = 1),
        |pa AS (
        |  SELECT a.vec_id AS query_id, a.v AS qv, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid ASC) AS r
        |  FROM e a CROSS JOIN cent c WHERE a.vec_id >= 30 AND a.vec_id < 60),
        |pl AS (SELECT query_id, qv, cid AS list FROM pa WHERE r <= 3),
        |cand AS (
        |  SELECT pl.query_id, l.neighbor_id,
        |    list_cosine_similarity(pl.qv, l.v) AS cos
        |  FROM pl JOIN lists l ON pl.list = l.list
        |  WHERE pl.query_id <> l.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM cand)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) + 0.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // Same pair graph as q_embedding_neardup; min-label reachability CTE
    // equals the engine's star-contraction components.
    "q_embedding_clusters" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pr AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) > 0.4),
        |sym AS (
        |  SELECT id_a AS u, id_b AS v FROM pr
        |  UNION SELECT id_b, id_a FROM pr),
        |walk(id, comp) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM sym) n
        |  UNION
        |  SELECT s.v, w.comp FROM walk w JOIN sym s ON s.u = w.id)
        |SELECT id, CAST(min(comp) AS BIGINT) AS component
        |FROM walk GROUP BY id""".stripMargin,
    // Same per-truncation brute ranks (cosine on list_slice prefixes,
    // neighbor-id tie-break), recall as one exact-integer division.
    "q_matryoshka" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (SELECT * FROM e WHERE vec_id < 20),
        |topk AS (
        |  SELECT d.dims, q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY d.dims, q.vec_id
        |      ORDER BY list_cosine_similarity(list_slice(q.v, 1, d.dims),
        |        list_slice(c.v, 1, d.dims)) DESC, c.vec_id ASC) AS rk
        |  FROM q CROSS JOIN e c
        |    JOIN (VALUES (16), (32), (64)) d(dims) ON TRUE
        |  WHERE q.vec_id <> c.vec_id),
        |sel AS (SELECT dims, query_id, neighbor_id FROM topk WHERE rk <= 10),
        |full64 AS (SELECT query_id, neighbor_id FROM sel WHERE dims = 64),
        |hits AS (
        |  SELECT s.dims, count(*) AS n FROM sel s JOIN full64 f
        |    ON s.query_id = f.query_id AND s.neighbor_id = f.neighbor_id
        |  GROUP BY 1),
        |tot AS (SELECT dims, count(*) AS n_total FROM sel GROUP BY 1)
        |SELECT tot.dims, CAST(n_total AS BIGINT) AS n_total,
        |  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_hits,
        |  round(coalesce(hits.n, 0) / CAST(n_total AS DOUBLE), 4) AS recall
        |FROM tot LEFT JOIN hits ON tot.dims = hits.dims""".stripMargin,

    // Same eps graph at 0.3; cores by degree+1, min-label walk over
    // core-core edges only (isolated cores seed themselves), borders
    // take the min core-neighbor cluster.
    // Same DBSCAN replication as q_dbscan, pair table swapped for the
    // md5-plane LSH buckets (4 planes x 4 tables, exact-cosine verify).
    "q_dbscan_lsh" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |planes AS (
        |  SELECT p, list_transform(range(0, 64),
        |    d -> CAST(('0x' || substr(md5('p_' || CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
        |         / CAST(576460752303423488 AS DOUBLE) - 1.0) AS comps
        |  FROM range(0, 16) t(p)),
        |proj AS (
        |  SELECT e.vec_id, planes.p,
        |    list_sum(list_transform(range(1, 65), i -> e.v[i] * planes.comps[i])) AS pr
        |  FROM e CROSS JOIN planes),
        |buckets AS (
        |  SELECT vec_id, p // 4 AS t,
        |    sum(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << (p % 4) ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM proj GROUP BY vec_id, p // 4),
        |pr AS (
        |  SELECT DISTINCT x.vec_id AS ua, y.vec_id AS ub
        |  FROM buckets x JOIN buckets y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id
        |  JOIN e a ON a.vec_id = x.vec_id JOIN e b2 ON b2.vec_id = y.vec_id
        |  WHERE list_cosine_similarity(a.v, b2.v) > 0.3),
        |sym AS (SELECT ua AS u, ub AS w FROM pr
        |        UNION ALL SELECT ub, ua FROM pr),
        |deg AS (SELECT u, count(*) AS n FROM sym GROUP BY 1),
        |cores AS (SELECT u AS c FROM deg WHERE n + 1 >= 4),
        |ce AS (SELECT u, w FROM sym
        |       WHERE u IN (SELECT c FROM cores)
        |         AND w IN (SELECT c FROM cores)),
        |walk(id, comp) AS (
        |  SELECT c, c FROM cores
        |  UNION
        |  SELECT s.w, wk.comp FROM walk wk JOIN ce s ON s.u = wk.id),
        |cc AS (SELECT id, CAST(min(comp) AS BIGINT) AS cluster
        |       FROM walk GROUP BY id),
        |border AS (
        |  SELECT s.u AS id, CAST(min(cc.cluster) AS BIGINT) AS cluster
        |  FROM sym s JOIN cc ON s.w = cc.id
        |  WHERE s.u NOT IN (SELECT c FROM cores)
        |  GROUP BY 1)
        |SELECT e.vec_id AS id,
        |  CASE WHEN cc.cluster IS NOT NULL THEN 'core'
        |       WHEN border.cluster IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  CAST(coalesce(cc.cluster, border.cluster, -1) AS BIGINT) AS cluster
        |FROM e LEFT JOIN cc ON e.vec_id = cc.id
        |LEFT JOIN border ON e.vec_id = border.id""".stripMargin,
    "q_dbscan" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pr AS (
        |  SELECT a.vec_id AS ua, b.vec_id AS ub
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) > 0.3),
        |sym AS (SELECT ua AS u, ub AS w FROM pr
        |        UNION ALL SELECT ub, ua FROM pr),
        |deg AS (SELECT u, count(*) AS n FROM sym GROUP BY 1),
        |cores AS (SELECT u AS c FROM deg WHERE n + 1 >= 4),
        |ce AS (SELECT u, w FROM sym
        |       WHERE u IN (SELECT c FROM cores)
        |         AND w IN (SELECT c FROM cores)),
        |walk(id, comp) AS (
        |  SELECT c, c FROM cores
        |  UNION
        |  SELECT s.w, wk.comp FROM walk wk JOIN ce s ON s.u = wk.id),
        |cc AS (SELECT id, CAST(min(comp) AS BIGINT) AS cluster
        |       FROM walk GROUP BY id),
        |border AS (
        |  SELECT s.u AS id, CAST(min(cc.cluster) AS BIGINT) AS cluster
        |  FROM sym s JOIN cc ON s.w = cc.id
        |  WHERE s.u NOT IN (SELECT c FROM cores)
        |  GROUP BY 1)
        |SELECT e.vec_id AS id,
        |  CASE WHEN cc.cluster IS NOT NULL THEN 'core'
        |       WHEN border.cluster IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  CAST(coalesce(cc.cluster, border.cluster, -1) AS BIGINT) AS cluster
        |FROM e LEFT JOIN cc ON e.vec_id = cc.id
        |LEFT JOIN border ON e.vec_id = border.id""".stripMargin,

    "q_embedding_centroid" ->
      """WITH e AS (
        |  SELECT label, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) - 1 AS pos
        |  FROM embeddings)
        |SELECT label, CAST(pos AS INT) AS pos,
        |  round(avg(CAST(x AS DOUBLE)), 4) + 0.0 AS c
        |FROM e GROUP BY label, pos""".stripMargin)
}
