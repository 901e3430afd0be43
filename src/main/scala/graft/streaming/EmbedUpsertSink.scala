package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Discord-shaped presentation sinks (SURVEY.md §2.1 S11/S12): the
  * embed-upsert poster for personal-best group pages and the plain webhook
  * summary post, re-expressed as a `foreachBatch`-compatible sink over the
  * engine's `personal_bests_summary` deliverable.
  *
  * Reference behavior modeled (`/root/reference/src/5_post_pbs_to_discord
  * .py:31-47,50-104,120-290` and `src/shared_utils.py:128-147`):
  *   - External message-id STATE keyed by group title, persisted as JSON
  *     next to the data (`discord_pb_message_ids.json`): a re-run EDITS the
  *     existing message; a missing/deleted message id falls back to posting
  *     a new one and records the new id (`py:283-287`).
  *   - Config groups render in definition order; tasks missing from the
  *     data render a "0:00" / no-holder placeholder (`py:190-216`); a
  *     trailing Miscellaneous group picks up every task the config didn't
  *     claim, alphabetically (`py:158-168`).
  *   - Embed descriptions cap at 4096 chars (truncate to 4090 +
  *     "\n...*truncated*", `py:96-99`); webhook messages cap at 2000
  *     (truncate to 1990 + "...", `shared_utils.py:134-135`).
  *
  * The TRANSPORT is injected (same pattern as
  * [[graft.sources.PriceFetcher]]): tests and this zero-egress sandbox
  * register an in-memory fake; a production build registers the HTTP
  * client. The sink never imports a network stack.
  *
  * Scale shape: the per-group record lists are assembled IN SPARK (one
  * partial-agg'd groupBy over the summary frame); only the rendered,
  * dashboard-sized group payloads reach the driver, and transport calls
  * are one per group — the collect is bounded by the config's group count,
  * not the data.
  */
object EmbedUpsertSink {

  /** Injected message transport. `send` returns the new message id;
    * `edit` returns false when the target message no longer exists
    * (Discord's NotFound) — the sink then reposts.
    */
  trait Transport {
    def send(content: String): Long
    def edit(messageId: Long, content: String): Boolean
  }

  /** Pluggable transport registry (see [[graft.sources.PriceFetcher]]). */
  object Transports {
    private val registry =
      new java.util.concurrent.ConcurrentHashMap[String, Transport]()
    def register(name: String, t: Transport): Unit = registry.put(name, t)
    def apply(name: String): Transport = {
      val t = registry.get(name)
      require(t != null, s"no Transport registered under '$name'")
      t
    }
  }

  /** One record slot in a group definition (TOML `[[groups.records]]`). */
  final case class RecordDef(name: String, emoji: String = "")

  /** One display group (TOML `[[groups]]`). */
  final case class GroupDef(title: String, records: Seq[RecordDef])

  private[streaming] val EmbedLimit = 4096
  private[streaming] val MessageLimit = 2000

  /** Embed-description cap: reference `5_post_pbs_to_discord.py:96-99`. */
  def truncateEmbed(s: String): String =
    if (s.length > EmbedLimit) s.substring(0, 4090) + "\n...*truncated*" else s

  /** Webhook content cap: reference `shared_utils.py:134-135`. */
  def truncateMessage(s: String): String =
    if (s.length > MessageLimit) s.substring(0, 1990) + "..." else s

  /** Post a summary message through the webhook transport, applying the
    * 2000-char cap (S11).
    */
  def postSummary(transport: Transport, message: String): Long =
    transport.send(truncateMessage(message))

  /** JSON state file: group title → message id. Unreadable/corrupt state
    * starts fresh, like the reference's `load_state`.
    */
  def loadState(path: Path): Map[String, Long] =
    if (!Files.exists(path)) Map.empty
    else try {
      val s = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
      // The state file is flat {"title": id, ...}; parse without a JSON lib.
      val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*(\d+)""".r
      entry.findAllMatchIn(s).map(m =>
        m.group(1).replace("\\\"", "\"").replace("\\\\", "\\") ->
          m.group(2).toLong).toMap
    } catch { case _: Exception => Map.empty }

  def saveState(path: Path, state: Map[String, Long]): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = state.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": $v""" }
      .mkString("{\n", ",\n", "\n}")
    // Atomic replace: a torn write here would reset the state on the next
    // run and repost every embed instead of editing in place.
    graft.ops.LocalFs.replaceAtomically(path, body)
  }

  private final case class Line(
      task: String, time: String, holder: String, date: Option[String])

  /** Render one group's embed description (reference
    * `create_embed_for_group`, `py:50-104`).
    */
  private def render(title: String, lines: Seq[(RecordDef, Option[Line])])
      : String = {
    val header = s"# **$title**"
    val hasRecords = lines.exists(_._2.exists(_.holder.nonEmpty))
    if (!hasRecords)
      return s"$header\nNo records to display in this category."
    val parts = lines.map { case (rd, dbOpt) =>
      val emoji = if (rd.emoji.nonEmpty) rd.emoji else "⚔️"
      val time = dbOpt.map(_.time).getOrElse("0:00")
      val holder = dbOpt.map(_.holder).filter(_.nonEmpty).getOrElse("N/A")
      val dateLine = dbOpt.flatMap(_.date).map(d => s"\n* *$d*").getOrElse("")
      s"$emoji **${rd.name}**\n* **Time:** $time\n* **Holder(s):** $holder$dateLine"
    }
    truncateEmbed((header +: parts).mkString("\n\n"))
  }

  /** The "🏆 Newest Clan Records" tail the reference appends to the
    * Miscellaneous embed (`5_post_pbs_to_discord.py:225-258`): the
    * `recentCount` most recent dated records, Date-descending (ties
    * break on Task then Holder so the output is deterministic under any
    * row order), separated by a 20-dash rule; an empty Misc section is
    * replaced by the reference's placeholder line; the combined
    * description re-truncates at 4093 + "..." (the reference uses a
    * DIFFERENT cap here than the 4090+marker embed cap — modeled
    * faithfully).
    */
  private def appendRecent(miscDesc: String, title: String,
      recent: Seq[Line]): String = {
    if (recent.isEmpty) return miscDesc
    val lines = recent.map(l => s"* **${l.holder}**\n  * *${l.task} - ${l.time}*")
    val base =
      if (miscDesc.contains("No records to display in this category."))
        s"## **$title**\n*No miscellaneous records to display.*"
      else miscDesc
    val sep = "\n\n" + "─" * 20 + "\n\n"
    val combined = base + sep + "## **🏆 Newest Clan Records**\n" +
      lines.mkString("\n")
    if (combined.length > EmbedLimit) combined.substring(0, 4093) + "..."
    else combined
  }

  /** Upsert one batch of the PB summary into the channel: edits messages
    * whose ids are in `state`, posts (and records) the rest, reposts when
    * an edit target vanished. Returns the updated state; `statePath`, when
    * given, is rewritten after the batch (the reference saves after each
    * run). `recentCount` > 0 appends the newest dated records to the
    * Miscellaneous embed (see [[appendRecent]]).
    *
    * `batch` columns: Group, Task, Time, Holder, Date (the
    * `personal_bests_summary` deliverable).
    */
  def upsertBatch(
      batch: DataFrame,
      groups: Seq[GroupDef],
      otherGroupName: String,
      state: Map[String, Long],
      transport: Transport,
      statePath: Option[Path] = None,
      recentCount: Int = 0): Map[String, Long] = {
    // Per-task lookup rows assembled in Spark; the collect is bounded by
    // the PB task universe (config-sized), not the broadcast volume.
    val rows = batch
      .select(col("Group"), col("Task"), col("Time"), col("Holder"),
        col("Date").cast("string").as("Date"))
      .collect()
    val byTask = rows.map(r => r.getString(1) -> Line(r.getString(1),
      Option(r.getString(2)).getOrElse("0:00"),
      Option(r.getString(3)).getOrElse(""),
      Option(r.getString(4)))).toMap

    // Miscellaneous group: every task the data assigned there, A→Z.
    val miscTasks = rows.filter(_.getString(0) == otherGroupName)
      .map(_.getString(1)).distinct.sorted
    val allGroups = groups :+
      GroupDef(otherGroupName, miscTasks.map(RecordDef(_)))

    val recent =
      if (recentCount <= 0) Seq.empty
      else byTask.values.toSeq.filter(_.date.exists(_.nonEmpty))
        .sortBy(l => (l.date.get, l.task, l.holder))(
          Ordering.Tuple3(Ordering.String.reverse, Ordering.String,
            Ordering.String))
        .take(recentCount)

    var st = state
    // State persists in a FINALLY: a transport failure halfway through
    // the group loop must not lose the message ids of embeds already
    // POSTED this attempt — an unsaved new-message id means the retry
    // re-posts a duplicate, once per failed attempt. Saving whatever ids
    // were acquired bounds the loss to the in-flight group.
    try {
      allGroups.foreach { g =>
        val base = render(g.title,
          g.records.map(rd => rd -> byTask.get(rd.name)))
        val content =
          if (g.title == otherGroupName) appendRecent(base, g.title, recent)
          else base
        st.get(g.title) match {
          case Some(id) if transport.edit(id, content) => // edited in place
          case _ => st = st.updated(g.title, transport.send(content))
        }
      }
    } finally {
      statePath.foreach(saveState(_, st))
    }
    st
  }

  /** `foreachBatch` adapter: wire the upsert behind a streaming writer.
    * State round-trips through `statePath` every batch, so a restarted
    * query keeps editing the same messages.
    */
  def foreachBatchWriter(
      groups: Seq[GroupDef],
      otherGroupName: String,
      statePath: Path,
      transportName: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      upsertBatch(batch, groups, otherGroupName, loadState(statePath),
        Transports(transportName), Some(statePath))
      ()
    }
}
