package perfbench

import java.time.{Instant, LocalDate, LocalDateTime, ZoneId, ZoneOffset}

import scala.collection.mutable

/** One meter reading: `us` is the UTC instant in epoch microseconds. */
final case class Point(prm: String, us: Long, value: Double)

/** One simulated day of the meter workloads, applied in this order: the
  * day's upsert batch (the day's readings plus late corrections to older
  * days), an optional hard replace of one meter's current-month series,
  * an optional soft delete of one meter. `nowUs` is the simulated
  * wall-clock every write of the day is stamped with.
  */
final case class Day(
    index: Int,
    nowUs: Long,
    batch: Seq[Point],
    replace: Option[(String, Seq[Point])],
    delete: Option[String])

final case class MeterInputs(meters: Seq[String], historyNowUs: Long, history: Seq[Point], days: Seq[Day])

/** Deterministic meter-curve generator: 15-minute load curves in
  * Europe/Paris starting 2024-10-01, so the history crosses the
  * 2024-10-27 DST change (a 25-hour day of 100 readings). Curves carry a
  * daily shape, noise and outage gaps (missing readings). Every odd
  * simulated day replaces one meter's series and deletes another meter.
  * The same seed gives the same inputs.
  */
object MeterGen {
  val Tz: ZoneId = ZoneId.of("Europe/Paris")
  val Freq = "15min"
  val StepUs: Long = 15L * 60 * 1000000L
  val Start: LocalDate = LocalDate.of(2024, 10, 1)

  def prm(i: Int): String = f"PRM$i%05d"

  def toUs(t: Instant): Long = t.getEpochSecond * 1000000L + t.getNano / 1000
  def instant(us: Long): Instant = Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000)
  /** UTC wall time, the store's TIMESTAMP_NTZ form. */
  def utc(us: Long): LocalDateTime = LocalDateTime.ofInstant(instant(us), ZoneOffset.UTC)

  /** The store's YearMonthAxis chunk of an instant (local month). */
  def chunkOf(us: Long): Int = {
    val z = instant(us).atZone(Tz)
    z.getYear * 12 + z.getMonthValue - 1
  }

  def dayStartUs(d: LocalDate): Long = toUs(d.atStartOfDay(Tz).toInstant)

  /** Grid instants of one local day (96 readings, 92 or 100 on DST days). */
  def daySlots(d: LocalDate): Seq[Long] = {
    val a = dayStartUs(d)
    val b = dayStartUs(d.plusDays(1))
    Iterator.iterate(a)(_ + StepUs).takeWhile(_ < b).toSeq
  }

  private def round3(x: Double): Double = math.round(x * 1000.0) / 1000.0

  def generate(seed: Long, meters: Int, historyDays: Int, simDays: Int): MeterInputs = {
    val r = new scala.util.Random(seed)
    val names = (0 until meters).map(prm)
    val base = names.map(_ => 0.3 + 2.7 * r.nextDouble())
    val shift = names.map(_ => 2.0 * r.nextDouble())

    def reading(m: Int, us: Long, scale: Double): Double = {
      val h = instant(us).atZone(Tz)
      val hour = h.getHour + h.getMinute / 60.0
      val shape = 1.0 + 0.5 * math.sin(2 * math.Pi * (hour - 7.0 - shift(m)) / 24.0)
      round3(math.max(0.0, scale * base(m) * shape + 0.05 * base(m) * r.nextGaussian()))
    }

    /** One meter's readings for one day, with an occasional outage gap. */
    def dayCurve(m: Int, d: LocalDate): Seq[Point] = {
      val slots = daySlots(d)
      val gap =
        if (r.nextDouble() < 0.08) {
          val len = 1 + r.nextInt(24)
          val at = r.nextInt(slots.length)
          (at until math.min(slots.length, at + len)).toSet
        } else Set.empty[Int]
      slots.zipWithIndex.collect { case (us, i) if !gap(i) => Point(names(m), us, reading(m, us, 1.0)) }
    }

    val history = for (d <- 0 until historyDays; m <- 0 until meters)
      yield dayCurve(m, Start.plusDays(d.toLong))
    val live = mutable.LinkedHashSet(0 until meters: _*)
    val days = (0 until simDays).map { k =>
      val date = Start.plusDays((historyDays + k).toLong)
      val todays = live.toSeq.flatMap(m => dayCurve(m, date))
      // late corrections: a run of re-read values on a random earlier day,
      // which lands in older chunks (and can fill an outage gap)
      val corrections = live.toSeq.flatMap { m =>
        if (r.nextDouble() < 0.3) {
          val past = Start.plusDays(r.nextInt(historyDays + k).toLong)
          val slots = daySlots(past)
          val len = 4 + r.nextInt(9)
          val at = r.nextInt(slots.length - len)
          slots.slice(at, at + len).map(us => Point(names(m), us, reading(m, us, 1.1)))
        } else Nil
      }
      val replace =
        if (k % 2 == 1) {
          val m = live.toSeq(r.nextInt(live.size))
          val monthStart = date.withDayOfMonth(1)
          val series = Iterator.iterate(monthStart)(_.plusDays(1)).takeWhile(!_.isAfter(date))
            .flatMap(daySlots).map(us => Point(names(m), us, reading(m, us, 0.97))).toSeq
          Some(names(m) -> series)
        } else None
      val delete =
        if (k % 2 == 1 && live.size > 2) {
          val others = live.toSeq.filterNot(m => replace.exists(_._1 == names(m)))
          val m = others(r.nextInt(others.size))
          live -= m
          Some(names(m))
        } else None
      val nowUs = toUs(date.plusDays(1).atTime(0, 30).atZone(Tz).toInstant)
      Day(k, nowUs, todays ++ corrections, replace, delete)
    }
    val historyNowUs = toUs(Start.plusDays(historyDays.toLong).atTime(0, 15).atZone(Tz).toInstant)
    MeterInputs(names, historyNowUs, history.flatten, days)
  }
}

/** What the store should hold: the live points of every meter, updated
  * with the same semantics as the store calls (new points win; a replace
  * keeps exactly the new series; a delete drops the meter). Each update
  * returns the (meter, chunk) pairs whose live content it changed.
  */
final class MeterModel {
  private val live = mutable.HashMap.empty[String, java.util.TreeMap[java.lang.Long, java.lang.Double]]

  private def chunksOf(prm: String): Set[(String, Int)] =
    live.get(prm).map(_.keySet.toArray.map(k => prm -> MeterGen.chunkOf(k.asInstanceOf[java.lang.Long])).toSet)
      .getOrElse(Set.empty)

  def upsert(points: Seq[Point]): Set[(String, Int)] = {
    val changed = mutable.Set.empty[(String, Int)]
    points.foreach { p =>
      val s = live.getOrElseUpdate(p.prm, new java.util.TreeMap())
      val prev = s.put(p.us, p.value)
      if (prev == null || prev.doubleValue != p.value) changed += (p.prm -> MeterGen.chunkOf(p.us))
    }
    changed.toSet
  }

  def replace(prm: String, points: Seq[Point]): Set[(String, Int)] = {
    val before = chunksOf(prm)
    live.remove(prm)
    before ++ upsert(points)
  }

  def delete(prm: String): Set[(String, Int)] = {
    val before = chunksOf(prm)
    live.remove(prm)
    before
  }

  def count: Long = live.values.map(_.size.toLong).sum

  /** (points, checksum) of one meter's live points in `[fromUs, toUs]`. */
  def slice(prm: String, fromUs: Long, toUs: Long): (Long, Long) =
    live.get(prm) match {
      case None => (0L, 0L)
      case Some(s) =>
        var n = 0L
        var h = 0L
        s.subMap(fromUs, true, toUs, true).forEach { (k, v) =>
          n += 1; h += MeterModel.mix(k, v)
        }
        (n, h)
    }

  def points: Iterator[Point] =
    live.iterator.flatMap { case (prm, s) =>
      val it = s.entrySet.iterator
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(e => Point(prm, e.getKey, e.getValue))
    }
}

object MeterModel {
  /** Order-independent point checksum term: summed over a set of points. */
  def mix(us: Long, value: Double): Long = {
    val h = (us * 0x9E3779B97F4A7C15L) ^ java.lang.Double.doubleToLongBits(value)
    (h ^ (h >>> 31)) * 0xBF58476D1CE4E5B9L
  }
}
