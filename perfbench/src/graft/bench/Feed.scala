package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded OWID-shaped JSON feed. Record `seq` is a pure function of
  * (seed, seq): location `seq % locations`, day `seq / locations`, so a
  * catch-up batch of `k * locations` records holds `k` days of every
  * location. Dirt is injected per record and per field: sentinel strings,
  * padded numbers, JSON nulls, zero population, exact duplicates (a
  * producer re-send, emitted in the same file) and truncated JSON lines.
  */
object Feed {
  val Continents: IndexedSeq[String] = IndexedSeq("Africa", "Asia",
    "Europe", "North America", "South America", "Oceania")

  final case class Loc(name: String, iso: String, continent: String,
      population: Long, start: Double, growth: Double, cfr: Double)

  /** Shares of injected dirt; each is applied independently per record
    * (or per numeric field for the field-level kinds). */
  val MalformedShare = 0.01
  val DuplicateShare = 0.03
  val SentinelShare = 0.02
  val PaddedShare = 0.02
  val NullShare = 0.01
  val ZeroPopulationShare = 0.01

  private val Sentinels = IndexedSeq("", "null", "NULL")
  val StartDay: java.time.LocalDate = java.time.LocalDate.of(2021, 1, 1)

  def locations(seed: Long, n: Int): IndexedSeq[Loc] = {
    val r = new SplittableRandom(mix(seed, -1L))
    (0 until n).map { i =>
      val name = f"Country-$i%03d"
      val iso = "" + ('A' + i / 26 % 26).toChar + ('A' + i % 26).toChar +
        ('A' + i / 676 % 26).toChar
      // a few large, fast-growing locations drive the hotspot branch
      val big = r.nextDouble() < 0.1
      Loc(name, iso, Continents(i % Continents.size),
        population = 100000L + r.nextLong(300000000L),
        start = if (big) 200000 + r.nextInt(400000) else 50 + r.nextInt(20000),
        growth = 0.005 + r.nextDouble() * 0.05,
        cfr = 0.004 + r.nextDouble() * 0.07)
    }
  }

  /** What the sink must hold for one well-formed record after cleaning. */
  final case class Expect(uuid: String, location: String, date: String,
      totalCases: Option[Double], newCases: Option[Double])

  /** One generated record: its lines (2 for a duplicate, a truncated one
    * for a malformed record) and, unless malformed, its expectation. */
  final case class Rec(seq: Long, lines: Seq[String],
      expect: Option[Expect], dirtyFields: Int, sentinels: Int,
      padded: Int, nulls: Int)

  def uuid(seed: Long, seq: Long): String = {
    val h = mix(seed, seq)
    f"${(h >>> 32) & 0xffffffffL}%08x-${(h >>> 16) & 0xffff}%04x-4${h & 0xfff}%03x-8${(h >>> 48) & 0xfff}%03x-$seq%012x"
  }

  /** The record sequence number carried in the last uuid group. */
  def seqOf(uuid: String): Long =
    java.lang.Long.parseLong(uuid.substring(uuid.lastIndexOf('-') + 1), 16)

  def record(seed: Long, locs: IndexedSeq[Loc], seq: Long): Rec = {
    val r = new SplittableRandom(mix(seed, seq))
    val loc = locs((seq % locs.size).toInt)
    val day = (seq / locs.size).toInt
    val date = StartDay.plusDays(day.toLong)
    def total(d: Int) = math.round(loc.start * math.exp(loc.growth * d))
    val totalCases = total(day)
    val newCases = math.max(0L, totalCases - total(day - 1)) +
      r.nextInt(5)
    val totalDeaths = math.round(totalCases * loc.cfr)
    val newDeaths = math.max(0L, totalDeaths -
      math.round(total(day - 1) * loc.cfr))
    val activeCases = math.round(totalCases * 0.1)
    val population =
      if (r.nextDouble() < ZeroPopulationShare) 0L else loc.population
    val minute = (seq % locs.size).toInt % 60
    val ts = f"$date 12:$minute%02d:00"
    val id = uuid(seed, seq)
    var sentinels, padded, nulls = 0
    // numeric field → (JSON value, cleaned value)
    def numeric(v: Long): (String, Option[Double]) = {
      val u = r.nextDouble()
      if (u < SentinelShare) {
        sentinels += 1
        (q(Sentinels(r.nextInt(Sentinels.size))), Some(0.0))
      } else if (u < SentinelShare + PaddedShare) {
        padded += 1
        (q(s"  $v "), Some(v.toDouble))
      } else if (u < SentinelShare + PaddedShare + NullShare) {
        nulls += 1
        ("null", None)
      } else (q(v.toString), Some(v.toDouble))
    }
    val tc = numeric(totalCases)
    val nc = numeric(newCases)
    val fields = Seq(
      "uuid" -> q(id), "continent" -> q(loc.continent),
      "location" -> q(loc.name), "iso_code" -> q(loc.iso),
      "date" -> q(date.toString), "timestamp" -> q(ts),
      "total_cases" -> tc._1, "new_cases" -> nc._1,
      "total_deaths" -> numeric(totalDeaths)._1,
      "new_deaths" -> numeric(newDeaths)._1,
      "active_cases" -> numeric(activeCases)._1,
      "population" -> numeric(population)._1,
      "recovery_rate" -> q("0.9"), "death_rate" -> q(f"${loc.cfr}%.4f"),
      "cases_per_million" -> q("0"), "deaths_per_million" -> q("0"),
      "new_cases_ratio" -> q("0"), "cases_to_population_ratio" -> q("0"),
      "is_hotspot" -> q(if (newCases > 10000) "true" else "false"))
    val line = fields.map { case (k, v) => q(k) + ":" + v }
      .mkString("{", ",", "}")
    val u = r.nextDouble()
    if (u < MalformedShare)
      Rec(seq, Seq(line.take(line.length / 2)), None, 0, 0, 0, 0)
    else {
      val lines = if (u < MalformedShare + DuplicateShare) Seq(line, line)
        else Seq(line)
      Rec(seq, lines,
        Some(Expect(id, loc.name, date.toString, tc._2, nc._2)),
        sentinels + padded + nulls, sentinels, padded, nulls)
    }
  }

  /** Running totals of what the generator injected. */
  final class Injected {
    var records, lines, malformed, duplicates, dirtyRecords = 0L
    var sentinels, padded, nulls = 0L
    def add(rec: Rec): Unit = synchronized {
      records += 1
      lines += rec.lines.size
      if (rec.expect.isEmpty) malformed += 1
      if (rec.lines.size == 2) duplicates += 1
      if (rec.dirtyFields > 0) dirtyRecords += 1
      sentinels += rec.sentinels; padded += rec.padded; nulls += rec.nulls
    }
    def shares: Seq[(String, Double)] = synchronized {
      val n = math.max(1L, records).toDouble
      Seq("malformed" -> malformed / n, "duplicate" -> duplicates / n,
        "dirty_record" -> dirtyRecords / n,
        "sentinel_field" -> sentinels / (6 * n),
        "padded_field" -> padded / (6 * n), "null_field" -> nulls / (6 * n))
    }
  }

  /** Writes records [from, until) as one JSON-lines file, published into
    * `dir` by an atomic rename so a file source never sees it half
    * written. Returns the records. */
  def writeFile(seed: Long, locs: IndexedSeq[Loc], from: Long, until: Long,
      dir: Path, stage: Path, name: String, injected: Injected): Seq[Rec] = {
    val recs = (from until until).map(record(seed, locs, _))
    val body = recs.flatMap(_.lines).mkString("", "\n", "\n")
    Files.createDirectories(stage)
    Files.createDirectories(dir)
    val tmp = stage.resolve(name)
    Files.write(tmp, body.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    recs.foreach(injected.add)
    recs
  }

  /** Open-loop live generator. Record `firstSeq + n` is created at
    * `t0 + n / rate`; the records created during tick `k`, the interval
    * [t0 + k * tickMs, t0 + (k+1) * tickMs), are flushed as one file due
    * at the end of that interval, as a producer that batches its sends.
    * A late flush is written as soon as the thread gets to it and is never
    * skipped, so the schedule does not slow when the pipeline slows; each
    * record keeps its creation time, so generator lateness counts against
    * freshness instead of hiding it. */
  final class Generator(seed: Long, locs: IndexedSeq[Loc], feed: Path,
      stage: Path, firstSeq: Long, ratePerSec: Int, tickMs: Int,
      val injected: Injected) extends Thread("bench-feed-generator") {
    setDaemon(true)
    val perTick: Int = math.max(1, ratePerSec * tickMs / 1000)
    /** Due time (System.nanoTime) of each flush written so far. */
    val dueNs = new ArrayBuffer[Long]()
    /** How late each flush was written, in ms. */
    val lateMs = new ArrayBuffer[Double]()
    @volatile private var stopping = false
    @volatile private var t0 = 0L
    @volatile var failure: Option[Throwable] = None
    @volatile var ticks = 0
    val expects = new ArrayBuffer[Expect]()

    def requestStop(): Unit = stopping = true
    def seqUntil: Long = firstSeq + ticks.toLong * perTick

    override def run(): Unit = try {
      t0 = System.nanoTime()
      var k = 0
      while (!stopping) {
        val due = t0 + (k + 1).toLong * tickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        if (!stopping) {
          val from = firstSeq + k.toLong * perTick
          val recs = writeFile(seed, locs, from, from + perTick, feed, stage,
            f"live-$k%06d.json", injected)
          synchronized {
            dueNs += due
            lateMs += (System.nanoTime() - due) / 1e6
            recs.foreach(_.expect.foreach(expects += _))
          }
          k += 1
          ticks = k
        }
      }
    } catch { case t: Throwable => failure = Some(t) }

    /** Creation time (System.nanoTime) of record `seq`. */
    def createdNs(seq: Long): Long =
      t0 + ((seq - firstSeq) * tickMs * 1000000L) / perTick
  }

  private def q(s: String): String = Json.str(s)

  /** SplitMix64 finalizer over (seed, seq): the per-record stream seed. */
  def mix(seed: Long, seq: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + seq * 0xBF58476D1CE4E5B9L +
      0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
