package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted ColBERT token index: build the md5-plane token buckets of
  * [[MaxSim.topKViaAnnMd5]] ONCE, serve any number of probe batches —
  * the late-interaction analogue of [[IvfIndex]] (bucketed lists) and
  * [[GraphIndex]] (kNN graph): at corpus scale the doc-token bucketing
  * is a full projection pass (|tokens| × planes dots) that should not
  * re-run per query batch, and rebuilds land behind a commit marker so
  * readers always resolve a complete generation. A rebuild RETIRES the
  * previous generation immediately (the GraphIndex stance) — a probe
  * must materialize before the single writer lands a rebuild; the
  * caller owns that ordering, exactly as with the graph.
  *
  * Layout under `path`: one generation per rebuild,
  * `tokens_v{n}/meta.json` (dims/numPlanes/tables — probes must use the
  * builder's planes, so the knobs travel WITH the artifact) and
  * `tokens_v{n}/toks/t=<table>/` parquet rows (b, id, pos, vec), sorted
  * by bucket within each partition so bucket-range reads skip row
  * groups. Generation commit rides [[VersionedTree]] (two trees → an
  * explicit `_GRAFT_COMMIT`, crash-safe like GraphIndex).
  *
  * [[topK]] replays exactly the [[MaxSim.topKViaAnnMd5]] stages against
  * the STORED buckets — per-query-token tokenK cut with the
  * (cos desc, (id, pos) asc) tie-break, owning-document distinct, exact
  * position-ordered MaxSim rerank — so persistence is invisible in the
  * result (the q_ann_ivf_persist stance; `q_maxsim_index` shares
  * q_maxsim_ann's oracle verbatim).
  *
  * [[append]] adds new documents' tokens under the live generation's
  * `t=` partitions (bucket assignment is per-token pure — no structure
  * to stitch, unlike the graph). Idempotency is ROW-level, not
  * doc-level: the batch's rows anti-join the stored (t, id, pos) keys
  * among the batch's ids (batch side broadcast into one slim-column
  * scan — the IvfIndex strict-check shape), so a replay appends exactly
  * the rows that are missing. That also HEALS a torn append: a crash
  * that left a document's tokens partially visible is repaired by the
  * redelivery instead of frozen by a doc-level guard. Re-embedded
  * documents are a rebuild, like the graph (a changed vector for a
  * stored (id, pos) is NOT detected — same-key rows are treated as
  * replays).
  *
  * Ids are stored as LONG (the persisted-artifact contract, like
  * [[GraphIndex]]): unlike the inline [[MaxSim]] tiers, which keep
  * native id types, an index file format pins one key type — string-
  * keyed corpora map ids through [[Ordinals]] first.
  *
  * Deletes are the [[IvfIndex]] LSM pattern verbatim — the token table
  * has no structure to repair, so the pure mask suffices: [[delete]]
  * appends doc ids under the live generation
  * (`tokens_v{n}/tombstones/`, only currently-stored ids land, so a
  * replayed delete appends nothing), [[topK]] anti-joins them out of
  * the stored tokens BEFORE the per-query-token tokenK cut — making a
  * tombstoned probe EXACTLY equal a from-scratch build over the
  * survivors (bucket assignment is per-token pure; `q_maxsim_delete`
  * gates that equality by oracle) — and [[compact]] folds the mask
  * into a rewritten generation, after which a re-[[append]] of the id
  * resurrects it. Until then a delete is terminal: re-appended rows
  * match the row-level replay guard (same (t, id, pos) keys) and stay
  * masked, the IVF stance.
  *
  * Single-writer assumption, same as every maintenance op here.
  */
object MaxSimIndex {

  private val versions = new VersionedTree("tokens")

  final case class Meta(dims: Int, numPlanes: Int, tables: Int)

  def liveVersion(spark: SparkSession, path: String): String =
    versions.liveVersion(spark, path)

  /** Snapshot `srcPath`'s live generation (token trees + meta + pending
    * tombstones) into `dstPath` as an independent single-writer tree —
    * hard-linked when local ([[VersionedTree.branch]]); completes the
    * branch surface across all four persisted index families.
    */
  def branch(spark: SparkSession, srcPath: String, dstPath: String): Unit =
    versions.branch(spark, srcPath, dstPath): Unit

  /** Retire the live generation so the previous committed one serves
    * again (needs a `retain` > 1 commit history — see
    * [[VersionedTree.rollback]]). In-place [[append]]s into the
    * SURVIVING generation are part of it and are not unwound.
    */
  def rollback(spark: SparkSession, path: String): Unit =
    versions.rollback(spark, path): Unit

  /** Fail fast on non-integral id columns: the artifact pins LONG keys,
    * and letting cast() run would throw mid-job under ANSI or (with ANSI
    * off) silently write a corrupt all-null-id index whose replay guard
    * can never match (null keys never equi-join).
    */
  private def requireLongIds(df: DataFrame, idCol: String, op: String): Unit = {
    val dt = df.select(col(idCol)).schema.head.dataType
    val ok = dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(ok, s"MaxSimIndex.$op needs an integral $idCol (stored as " +
      s"LONG); got $dt — map string keys through Ordinals first")
  }

  private def bucketCol(vecCol: Column, t: Int, dims: Int,
      numPlanes: Int): Column =
    graft.expr.VectorExprs.planeBuckets(vecCol,
      Array.tabulate(numPlanes)(p =>
        Similarity.md5PlaneComponents(t * numPlanes + p, dims)))

  private def bucketed(docToks: DataFrame, idCol: String, posCol: String,
      vecCol: String, dims: Int, numPlanes: Int, tables: Int): DataFrame =
    docToks.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(posCol).cast("int").as("pos"), col(vecCol).as("vec"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            bucketCol(col(vecCol), t, dims, numPlanes).as("b"))): _*))
          .as("__tb"))
      .select(col("__tb.t").as("t"), col("__tb.b").as("b"),
        col("id"), col("pos"), col("vec"))

  def write(spark: SparkSession, path: String, docToks: DataFrame,
      idCol: String, posCol: String, vecCol: String, dims: Int,
      numPlanes: Int = 6, tables: Int = 2, retain: Int = 1): Unit = {
    requireLongIds(docToks, idCol, "write")
    versions.commitNext(spark, path, retain) { gen =>
      // Range-partition on (t, b, id), NOT repartition(t): hashing on
      // the table id alone funnels the corpus-wide projection through
      // one task per table — the build this artifact exists to amortize
      // would serialize. Ranges keep each output file a contiguous
      // sorted bucket slice, so bucket reads still skip row groups; the
      // id in the range key lets a HOT bucket (one boilerplate token in
      // half the corpus) split across writers instead of serializing
      // one range task — equal (t, b) keys cannot otherwise be divided.
      bucketed(docToks, idCol, posCol, vecCol, dims, numPlanes, tables)
        .repartitionByRange(col("t"), col("b"), col("id"))
        .sortWithinPartitions(col("b"), col("id"), col("pos"))
        .write.mode("overwrite").partitionBy("t").parquet(s"$gen/toks")
      writeMeta(spark, gen, Meta(dims, numPlanes, tables))
    }: Unit
  }

  /** Read a generation's token tree, tolerating a committed-but-EMPTY
    * generation: a [[write]] over an empty token table (the documented
    * streaming bootstrap — land the artifact, then let the maintenance
    * sink fill it) emits no parquet data files under `toks/`, so plain
    * `spark.read.parquet` fails schema inference. The fallback is an
    * empty frame with the canonical token schema — every consumer
    * (append's replay anti-join, topK's bucket join and rerank) is
    * row-driven, so the vec element type of an EMPTY frame is inert.
    */
  private def readToks(spark: SparkSession, toksPath: String): DataFrame =
    try spark.read.parquet(toksPath)
    catch {
      // Match on the ERROR CLASS, not the message text: the condition
      // name is the stable cross-version/locale contract
      // (SparkThrowable.getCondition — UNABLE_TO_INFER_SCHEMA), while
      // the message wording is free to change. The message substring
      // stays only as a fallback for classless legacy exceptions.
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition)
            .map(_.startsWith("UNABLE_TO_INFER_SCHEMA"))
            .getOrElse(Option(e.getMessage).exists(m =>
              m.toUpperCase.contains("INFER"))) =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("t", IntegerType),
            StructField("b", LongType), StructField("id", LongType),
            StructField("pos", IntegerType),
            StructField("vec", ArrayType(DoubleType)))))
    }

  /** Add new documents' tokens under the live generation (see the object
    * doc for the row-level replay guard and the torn-append heal).
    *
    * PRE-HEAL VISIBILITY: an append lands files directly in the live
    * tree with no per-batch commit point, so between a torn append and
    * its redelivery [[topK]] SEES the partially-appended document and
    * scores it from the tokens that landed — an UNDERSTATED MaxSim
    * score, not an omission (unlike a torn [[write]], which the
    * `_GRAFT_COMMIT` marker fences into invisibility). Readers that need
    * torn-free reads must gate probes on the feed's checkpoint (the
    * streaming sink's batch boundary) or batch appends through
    * [[write]]'s versioned path.
    */
  def append(spark: SparkSession, path: String, docToks: DataFrame,
      idCol: String, posCol: String, vecCol: String): Unit = {
    requireLongIds(docToks, idCol, "append")
    val live = liveVersion(spark, path)
    val m = readMeta(spark, s"$path/$live")
    val rows = bucketed(docToks, idCol, posCol, vecCol,
      m.dims, m.numPlanes, m.tables)
    // ROW-level replay guard (see the object doc): stored (t, id, pos)
    // keys among the batch's ids, batch side broadcast — a replayed or
    // torn-then-redelivered batch appends exactly the missing rows.
    // Bucket assignment is deterministic, so a same-key row is always a
    // replay (a re-embedded document is a rebuild). The log's count is
    // observed on the checkpoint's own pass (no count job).
    val (stored, counts) = Checkpoints.eagerCounted(
      readToks(spark, s"$path/$live/toks")
        .select(col("t"), col("id"), col("pos"))
        .join(broadcast(rows.select(col("id")).distinct()), Seq("id"),
          "left_semi"),
      count(lit(1)))
    counts.map(_.head).filter(_ > 0).foreach(dropped => System.err.println(
      s"[graft] MaxSimIndex.append: $dropped already-stored token row(s) " +
        "skipped (replay or torn-append heal; an update is a rebuild)"))
    rows.join(broadcast(stored), Seq("t", "id", "pos"), "left_anti")
      .repartitionByRange(col("t"), col("b"), col("id"))
      .sortWithinPartitions(col("b"), col("id"), col("pos"))
      .write.mode("append").partitionBy("t").parquet(s"$path/$live/toks")
    Checkpoints.release(stored)
  }

  /** Tombstone a batch of doc ids (see the object doc). Replay-safe
    * ([[VersionedTree.tombstone]]): only stored, not-yet-tombstoned ids
    * land, so a redelivered delete (or a delete of a never-stored id)
    * appends nothing.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit = {
    requireLongIds(ids, idCol, "delete")
    val gen = s"$path/${liveVersion(spark, path)}"
    VersionedTree.tombstone(spark, gen, ids, idCol,
      readToks(spark, s"$gen/toks"), "id")
  }

  /** Fold pending tombstones into a rewritten committed generation
    * (same layout and knobs), clearing the mask — after which a
    * re-[[append]] of a deleted id resurrects it. No-op when nothing is
    * tombstoned.
    */
  def compact(spark: SparkSession, path: String, retain: Int = 1): Unit = {
    val live = s"$path/${liveVersion(spark, path)}"
    if (VersionedTree.tombstones(spark, live).isEmpty) return
    val m = readMeta(spark, live)
    versions.commitNext(spark, path, retain) { gen =>
      VersionedTree.masked(spark, live, readToks(spark, s"$live/toks"), "id")
        .repartitionByRange(col("t"), col("b"), col("id"))
        .sortWithinPartitions(col("b"), col("id"), col("pos"))
        .write.mode("overwrite").partitionBy("t").parquet(s"$gen/toks")
      writeMeta(spark, gen, m)
    }: Unit
  }

  /** Probe batches against the stored buckets — result-identical to
    * [[MaxSim.topKViaAnnMd5]] over the indexed token table with the
    * generation's own knobs (tombstoned docs masked out BEFORE the
    * tokenK cut, so a post-delete probe equals a survivors-only build).
    */
  def topK(spark: SparkSession, path: String, queryToks: DataFrame,
      idCol: String, posCol: String, vecCol: String, k: Int,
      tokenK: Int = 32, simPrecision: Int = -1): DataFrame = {
    requireLongIds(queryToks, idCol, "topK")
    val live = liveVersion(spark, path)
    val m = readMeta(spark, s"$path/$live")
    val toks = VersionedTree.masked(spark, s"$path/$live",
      readToks(spark, s"$path/$live/toks"), "id")

    // Probe bags are query-batch-sized; the two consumers (bucket
    // explode, rerank) just recompute the projection — a lazy checkpoint
    // here would have to outlive the RETURNED frame, which the caller
    // materializes after we return (no safe release point).
    val q = queryToks.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__qid"),
        col(posCol).cast("int").as("__qp"), col(vecCol).as("__qv"),
        Similarity.norm(col(vecCol)).as("__qn"))
    val qb = q.select(col("__qid"), col("__qp"), col("__qv"), col("__qn"),
        explode(array((0 until m.tables).map(t =>
          struct(lit(t).as("t"),
            bucketCol(col("__qv"), t, m.dims, m.numPlanes).as("b"))): _*))
          .as("__tb"))
      .select(col("__qid"), col("__qp"), col("__qv"), col("__qn"),
        col("__tb.t").as("t"), col("__tb.b").as("b"))

    // Same stages as lshTopKImpl inside topKViaAnnMd5: score, pair
    // dedup across tables, per-query-token tokenK cut with the stored
    // side's (id, pos) as the tie-break (= the struct-key order; the
    // side tag is implicit — stored rows are all docs, probes all
    // queries, so no self-exclusion applies by construction).
    val cos = Similarity.dot(col("__qv"), col("vec")) /
      (col("__qn") * Similarity.norm(col("vec")))
    val hits = qb.join(toks, Seq("t", "b"))
      .select(col("__qid"), col("__qp"), col("id"), col("pos"),
        cos.as("__c"))
      .distinct()
    // Hot-token pre-cut (the Similarity.lshTopKImpl discipline): one
    // boilerplate token in half the corpus puts half the token table
    // into a single (query, qtoken) window partition; cutting to tokenK
    // within each physical partition first is exact (a global-top row
    // is top within its partition) and bounds every sort task.
    val wPre = Window.partitionBy("__qid", "__qp", "__pp")
      .orderBy(col("__c").desc, col("id").asc, col("pos").asc)
    val pre = hits
      .withColumn("__pp", spark_partition_id())
      .withColumn("__pr", row_number().over(wPre))
      .filter(col("__pr") <= tokenK)
      .drop("__pp", "__pr")
    val wTok = Window.partitionBy("__qid", "__qp")
      .orderBy(col("__c").desc, col("id").asc, col("pos").asc)
    val cand = pre.withColumn("__r", row_number().over(wTok))
      .filter(col("__r") <= tokenK)
      .select(col("__qid").as("query_id"), col("id").as("doc_id"))
      .distinct()

    // Exact rerank over candidates — MaxSim.rerankCandidates, the ONE
    // copy of the fold/rank tail (bit-parity with the inline path is
    // the artifact's contract), with doc tokens read back from the
    // index (each token is stored once per table; t = 0 is the full
    // token table).
    val qt = q.select(col("__qid").as("query_id"), col("__qp"),
      col("__qv"), col("__qn"))
    val dt = toks.filter(col("t") === 0)
      .select(col("id").as("doc_id"), col("vec").as("__dv"),
        Similarity.norm(col("vec")).as("__dn"))
    MaxSim.rerankCandidates(cand, qt, dt, k, simPrecision)
  }

  // ------------------------------------------------------------- meta

  private def writeMeta(spark: SparkSession, gen: String, m: Meta): Unit = {
    val fs = new org.apache.hadoop.fs.Path(gen)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$gen/meta.json"))
    out.write(
      s"""{"dims":${m.dims},"numPlanes":${m.numPlanes},"tables":${m.tables}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private[ops] def readMeta(spark: SparkSession, gen: String): Meta = {
    val p = new org.apache.hadoop.fs.Path(s"$gen/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def intOf(key: String): Int = {
      val m = s""""$key"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(txt)
      require(m.isDefined, s"meta.json missing $key under $gen")
      m.get.group(1).toInt
    }
    Meta(intOf("dims"), intOf("numPlanes"), intOf("tables"))
  }
}
