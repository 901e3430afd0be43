package perfbench

import java.sql.Timestamp
import java.time.{ZoneOffset, ZonedDateTime}
import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, id), so any id range can be regenerated on its own and
  * the same seed always yields byte-identical inputs. The engine only ever
  * sees the frames built from these rows, never the seed.
  */
object Gen {

  /** The report clock: periods (week, month, YTD, custom days) are
    * computed against it, and every generated message precedes it.
    */
  val RunTime: ZonedDateTime = ZonedDateTime.of(2024, 6, 15, 12, 0, 0, 0, ZoneOffset.UTC)

  private val HistoryDays = 400L
  private val DayMs = 86400000L
  private val EndMs = RunTime.toInstant.toEpochMilli - 3600000L
  private val StartMs = EndMs - HistoryDays * DayMs

  final case class Msg(id: Long, ts: Long, content: String) {
    def row: (Long, Timestamp, String) = (id, new Timestamp(ts), content)
  }

  private def rng(seed: Long, stream: Long, id: Long): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ id
    h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL
    h = (h ^ (h >>> 33)) * 0xC4CEB9FE1A85EC53L
    new SplittableRandom(h ^ (h >>> 33))
  }

  // ------------------------------------------------------------ Discord log

  private val firstNames = Seq("Zezima", "Lynx Titan", "Hans", "Iron Hans", "B0aty",
    "Woox", "Settled", "Framed", "Odablock", "Mmorpg", "Sick Nerd", "Faux", "Verf",
    "Alkan", "Tide", "Coxie", "Gnome Child", "Lil Ironbtw", "Skill Specs", "Roq",
    "Zulrah Fan", "Dad Joke", "Cow Slayer", "Pure Pker", "Goblin Lord")

  /** ~150 players; a skewed pick so leaderboards have a head and a tail. */
  private def user(r: SplittableRandom): String = {
    val u = r.nextDouble()
    val n = (u * u * 150).toInt
    s"${firstNames(n % firstNames.size)}${if (n < firstNames.size) "" else (n / firstNames.size).toString}"
  }

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private def coins(r: SplittableRandom, lo: Long, hi: Long): String =
    f"${lo + (r.nextDouble() * (hi - lo)).toLong}%,d"

  private val ranks = Seq("Owner", "Deputy_owner", "Captain", "General", "Recruit", "Friend")
  private val chatLines = Seq("gz", "grats!", "gratz on the drop", "111", "cya hick", "lol",
    "anyone for cox?", "nice one", "ty", "brb", "gz gz", "111 111", "what a spoon")
  private val items = Seq("Abyssal whip", "Dragon claws", "Rune platebody", "Armadyl helmet",
    "Bandos chestplate", "Saradomin sword", "Dragon warhammer", "Zenyte shard", "Onyx",
    "Tanzanite fang", "Ranger boots", "Dragon pickaxe")
  private val monsters = Seq("Abyssal demon", "General Graardor", "Zulrah", "Vorkath",
    "Kree'arra", "Commander Zilyana", "Lizardman shaman", "Chambers of Xeric")
  /** Items whose broadcasts carry no value. */
  private val rareItems = Seq("Twisted bow", "Elder maul")
  private val clogItems = Seq("Hellpuppy", "Pet snakeling", "Vorki", "Dragon defender",
    "Fighter torso", "Black mask", "Dark claw", "Tanzanite mutagen")
  private val skills = Seq("Attack", "Strength", "Defence", "Ranged", "Prayer", "Magic",
    "Runecraft", "Hitpoints", "Crafting", "Mining", "Smithing", "Fishing", "Cooking",
    "Firemaking", "Woodcutting", "Agility", "Herblore", "Thieving", "Fletching", "Slayer")
  private val quests = Seq("Dragon Slayer II", "Song of the Elves", "Monkey Madness II",
    "Desert Treasure", "Recipe for Disaster")
  private val bosses = Seq("Zulrah", "Vorkath", "Theatre of Blood", "Fight Caves",
    "Chambers of Xeric", "Inferno")

  /** One message per id; the weights cover every parse rule family. */
  private def content(r: SplittableRandom, id: Long): String = {
    val u = user(r)
    def other: String = { val o = user(r); if (o == u) o + " Jr" else o }
    r.nextInt(1000) match {
      case x if x < 340 =>
        val icons = s"<:${pick(r, ranks)}:123>" + (if (r.nextInt(4) == 0) "<:ironman:456>" else "")
        s"$icons**$u**: ${pick(r, chatLines)}"
      case x if x < 480 =>
        s"$u received a drop: ${pick(r, items)} (${coins(r, 10000, 60000000)} coins) from ${pick(r, monsters)}."
      case x if x < 500 => s"<:icon:1> $u received a drop: ${pick(r, items)} (${coins(r, 5000, 900000)} coins)"
      case x if x < 520 => s"$u received a rare drop: ${pick(r, rareItems)}"
      case x if x < 550 => s"$u received a clue item: ${pick(r, items)} (${coins(r, 10000, 90000000)} coins)"
      case x if x < 600 =>
        s"$u received a new collection log item: ${pick(r, clogItems)} (${1 + r.nextInt(1500)}/1577)"
      case x if x < 615 => s"$u received special loot from a raid: ${pick(r, items)}."
      case x if x < 620 => s"$u, $other and ${user(r)} received special loot from a raid: Dragon hunter lance."
      case x if x < 630 =>
        s"$u has a funny feeling like he's being followed: ${pick(r, clogItems)} at ${coins(r, 10, 9000)} killcount."
      case x if x < 730 => s"$u has reached ${pick(r, skills)} level ${2 + r.nextInt(98)}."
      case x if x < 750 => s"$u has reached a total level of ${500 + r.nextInt(1777)}."
      case x if x < 770 => s"$u has reached ${coins(r, 1000000, 200000000)} XP in ${pick(r, skills)}."
      case x if x < 790 => s"$u has completed a quest: ${pick(r, quests)}."
      case x if x < 800 => s"$u has completed the Elite Ardougne diary."
      case x if x < 820 => s"$u has completed a master combat task: Perfect ${pick(r, bosses)}."
      case x if x < 860 =>
        s"$u has achieved a new ${pick(r, bosses)} personal best: ${r.nextInt(60)}:${f"${r.nextInt(60)}%02d"}"
      case x if x < 880 => s"$u has defeated $other and received (${coins(r, 1000, 9000000)} coins) worth of loot!"
      case x if x < 900 =>
        s"$u has been defeated by $other in The Wilderness and lost (${coins(r, 1000, 9000000)} coins) worth of loot."
      case x if x < 905 => s"$u has unlocked the Elite tier of rewards from Combat Achievements!"
      case x if x < 920 => s"$u has been invited into the clan by $other."
      case x if x < 935 => s"$other has expelled $u from the clan."
      case x if x < 940 => s"$u has left the clan."
      case x if x < 945 => s"$u has died and lost a life. Their group has 2/3 lives left."
      case x if x < 955 => s"$u has deposited ${coins(r, 1000, 5000000)} coins into the coffer."
      case x if x < 960 => s"$u has withdrawn ${coins(r, 1000, 5000000)} coins from the coffer."
      case x if x < 980 => s"$u has reached Slayer level ${2 + r.nextInt(98)}."
      case _ => s"beep boop: webhook heartbeat $id"
    }
  }

  /** Message `id` of a log whose first `historySize` ids span the 400 days
    * before [[RunTime]]; later ids fall in its last day. One in twenty
    * arrives with a timestamp up to three days early (out of order).
    */
  def message(seed: Long, id: Long, historySize: Long): Msg = {
    val r = rng(seed, 1, id)
    val base =
      if (id <= historySize) StartMs + (id - 1) * (HistoryDays * DayMs) / historySize
      else EndMs - DayMs + r.nextLong(DayMs)
    val late = if (r.nextInt(20) == 0) r.nextLong(3 * DayMs) else 0L
    Msg(id, math.max(StartMs, base + r.nextLong(60000L) - late), content(r, id))
  }

  /** Messages `from` until `until`, plus resends: about 2% extra rows that
    * repeat an earlier id (same id, timestamp and content) drawn from
    * `[1, until)`. `stream` keys the resend choice, so two batches over the
    * same range differ in which ids they resend.
    */
  def messages(seed: Long, from: Long, until: Long, historySize: Long, stream: Long): Seq[Msg] = {
    val fresh = (from until until).map(message(seed, _, historySize))
    val r = rng(seed, 2, stream)
    val resends = (0L until (until - from) / 50).map(_ => message(seed, 1 + r.nextLong(until - 1), historySize))
    fresh ++ resends
  }

  /** `unparseable` is the share of generated lines no rule matches. */
  def describe(ms: Seq[Msg]): String = {
    val bot = ms.count(_.content.startsWith("beep boop"))
    f"${ms.size} rows, ${ms.map(_.id).distinct.size} ids, unparseable ${bot.toDouble / ms.size}%.3f"
  }

  // ------------------------------------------------------------ embeddings

  val Clusters = 24

  private def gaussian(r: SplittableRandom, dims: Int): Array[Double] = {
    Array.fill(dims) {
      // Box-Muller
      val u1 = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
    }
  }

  private def center(seed: Long, c: Int, dims: Int): Array[Double] =
    gaussian(rng(seed, 4, c.toLong), dims)

  /** A unit vector near one of [[Clusters]] seeded centers. `stream`
    * separates corpus rows, probes and re-embedded updates of one id.
    */
  def vector(seed: Long, id: Long, dims: Int, stream: Long = 5): Array[Float] = {
    val r = rng(seed, stream, id)
    val c = center(seed, r.nextInt(Clusters), dims)
    val noise = gaussian(r, dims)
    val v = c.indices.map(i => c(i) + 0.6 * noise(i))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat).toArray
  }

  /** Stable digest of generated rows, for the determinism check. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
