package perfbench

import java.time.LocalDate

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

import graft.sources.PaginatedRest.{PageFetcher, ThrottledException}

/** Fetch-side counters a traced run reads back from the executors. */
final case class FetchCounters(calls: LongAccumulator, nonEmpty: LongAccumulator,
    throttles: LongAccumulator, waitNs: LongAccumulator)

object FetchCounters {
  def apply(sc: SparkContext): FetchCounters = FetchCounters(
    sc.longAccumulator("fetch_calls"), sc.longAccumulator("pages_nonempty"),
    sc.longAccumulator("throttles"), sc.longAccumulator("fetch_wait_ns"))
}

/** What one record looks like to the program once parsed: malformed JSON
  * parses to no id and no timestamp. */
final case class Planted(id: Option[String], day: Option[String])

/** Seeded QBO-shaped customer pages. Record `i` (1-based) is derived from
  * `(seed, i)` alone, so any executor can serve any page and the same seed
  * always serves the same records. The seed drives the payload values; the
  * layout (which records are faulty, each record's id and day, which pages
  * throttle) is the same for every seed, so row, job and file counts repeat
  * exactly from run to run.
  *
  * Records take a day in `[firstDay, firstDay + spanDays)`, except the
  * planted faults (shares of all records, constants in the companion):
  *  - `MalformedShare`: truncated JSON, which PERMISSIVE parsing turns
  *    into a row with a null id that the window filter drops;
  *  - `DupShare`: a record that repeats the id and the day of a record up
  *    to 97 positions earlier, so it lands in the same windows as its
  *    original and the in-batch dedup has to drop it;
  *  - `OutShare`: a `LastUpdatedTime` one year before `firstDay`, which
  *    every window of the workload drops.
  *
  * The service answers each call after `DelayMs`, and the first call for
  * every `ThrottleEvery`-th page throws a [[ThrottledException]] carrying
  * `RetryAfterMs`. The "first call" ledger lives in the deserialized task
  * copy, so every scan of the source meets the same schedule. */
final case class QboPages(seed: Long, total: Int, idPrefix: String,
    firstDay: String, spanDays: Int, counters: Option[FetchCounters] = None)
    extends PageFetcher {

  import QboPages._

  @transient private lazy val throttled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  @transient private lazy val day0 = LocalDate.parse(firstDay)

  private def mix(i: Long, salt: Long = LayoutSeed): Long = {
    var z = salt * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def share(h: Long): Double = (h >>> 11).toDouble / (1L << 53)

  /** The in-span day of position `i`. */
  private def spanDay(i: Long): LocalDate =
    day0.plusDays((mix(i + 0x5851F42DL) >>> 8) % spanDays)

  /** The record at 1-based position `i`, as (parsed view, raw JSON). */
  def record(i: Int): (Planted, String) = {
    val u = share(mix(i))
    val h2 = mix(i.toLong + 0x5851F42DL)
    val dup = u >= MalformedShare && u < MalformedShare + DupShare && i > 1
    val of = if (dup) math.max(1L, i - 1 - (h2 >>> 33) % 97) else i.toLong
    val id = s"$idPrefix$of"
    val day =
      if (u >= MalformedShare + DupShare &&
          u < MalformedShare + DupShare + OutShare)
        day0.minusYears(1).plusDays(h2 >>> 40 & 0xff).toString
      else spanDay(of).toString
    val v = mix(i, seed)
    val balance = (v >>> 20) % 1000000 / 100.0
    val json = s"""{"Id":"$id","DisplayName":"Customer ${v >>> 40}","Active":${(v & 1) == 0},""" +
      s""""Taxable":${(v & 2) == 0},"Balance":$balance,""" +
      s""""CurrencyRef":{"value":"USD","name":"United States Dollar"},""" +
      s""""MetaData":{"CreateTime":"${day0.minusYears(2)}T09:00:00-07:00",""" +
      s""""LastUpdatedTime":"${day}T16:52:08-07:00"}}"""
    if (u < MalformedShare) (Planted(None, None), json.take(json.length / 2))
    else (Planted(Some(id), Some(day)), json)
  }

  def fetch(startPosition: Long, maxResults: Int): Seq[String] = {
    val t0 = System.nanoTime()
    Thread.sleep(DelayMs)
    counters.foreach(_.calls.add(1))
    val page = (startPosition - 1) / maxResults
    if (page % ThrottleEvery == 0 && throttled.add(page)) {
      counters.foreach { c => c.throttles.add(1); c.waitNs.add(System.nanoTime() - t0) }
      throw new ThrottledException(s"429 on page ${page + 1}", Some(RetryAfterMs))
    }
    val from = startPosition.toInt
    val to = math.min(from.toLong + maxResults - 1, total.toLong).toInt
    val recs = if (from > total) Seq.empty else (from to to).map(record(_)._2)
    counters.foreach { c =>
      if (recs.nonEmpty) c.nonEmpty.add(1)
      c.waitNs.add(System.nanoTime() - t0)
    }
    recs
  }

  /** Every record as the program will parse it, in page order. */
  def planted: IndexedSeq[Planted] = (1 to total).map(record(_)._1)
}

object QboPages {
  val LayoutSeed = 20250913L
  val MalformedShare = 0.02
  val DupShare = 0.04
  val OutShare = 0.08
  /** A per-page service time in the tens of milliseconds. */
  val DelayMs = 20L
  /** The first page and every ninth after it meet one 429. */
  val ThrottleEvery = 9
  val RetryAfterMs = 15L
}

/** What one `Pipeline.run` over window `[lo, hi]` must report, given the
  * ids already in the sink. */
final case class Expected(windowed: Long, fresh: Set[String])

object Expected {
  def apply(recs: IndexedSeq[Planted], lo: String, hi: String,
      present: String => Boolean): Expected = {
    val inWindow = recs.filter(r => r.day.exists(d => d >= lo && d <= hi))
    val ids = inWindow.flatMap(_.id).toSet
    val fresh = ids.filterNot(present)
    Expected(inWindow.size.toLong, fresh)
  }
}
