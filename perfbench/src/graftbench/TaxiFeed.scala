package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

/** Seeded synthetic taxi feed in the reference's positional layout
  * (FIXTURES.md §1): headerless CSV files, one per dropoff minute, mixing
  * 20-column yellow and 22-column green rows.
  *
  * Headquarters arrivals are planted per 10-minute window, at least 1e-4°
  * inside the goldman or citigroup quad so float32 parsing cannot move a
  * point across an edge; every other dropoff lies east of -73.99°, far
  * from both quads. Some windows are planted to at least double the one
  * before, so the Task4 trend fires. The ground truth is computed here,
  * from the generator's own records and its own point-in-polygon test,
  * without Spark. */
final class TaxiFeed(seed: Long, rowsPerFile: Int) {
  import TaxiFeed._

  private val rng = new java.util.SplittableRandom(seed)

  /** Planted counts for one day: `counts(hq)(w)` for window `w` in 0..143. */
  final case class Day(date: String, counts: Map[String, Array[Int]], rows: Long)

  private def plantCounts(): Array[Int] = {
    val c = new Array[Int](WindowsPerDay)
    for (w <- 0 until WindowsPerDay) {
      val prev = if (w > 0) c(w - 1) else 0
      c(w) =
        if (prev >= 1 && prev <= 8 && rng.nextDouble() < 0.3) math.max(10, 2 * prev) + rng.nextInt(3)
        else rng.nextInt(9)
    }
    c
  }

  private def d2(x: Double): String = {
    val c = math.round(x * 100)
    s"${c / 100}.${if (c % 100 < 10) "0" else ""}${c % 100}"
  }

  private val tsCache = mutable.Map[Long, String]()

  /** "yyyy-MM-dd HH:mm:ss" of an epoch second, formatted once per minute. */
  private def fmtTs(epochSec: Long): String = {
    val minute = tsCache.getOrElseUpdate(epochSec / 60,
      java.time.LocalDateTime.ofEpochSecond(epochSec / 60 * 60, 0, java.time.ZoneOffset.UTC)
        .format(TsFormat).dropRight(2))
    val s = (epochSec % 60).toInt
    minute + (if (s < 10) "0" else "") + s
  }

  /** A float32 point inside `poly`, at least `Margin` from every edge. */
  private def pointIn(poly: Array[Double]): (Float, Float) = {
    val xs = poly.indices.filter(_ % 2 == 0).map(poly)
    val ys = poly.indices.filter(_ % 2 == 1).map(poly)
    var p: (Float, Float) = null
    while (p == null) {
      val x = (xs.min + rng.nextDouble() * (xs.max - xs.min)).toFloat
      val y = (ys.min + rng.nextDouble() * (ys.max - ys.min)).toFloat
      if (inside(poly, x.toDouble, y.toDouble) && edgeDistance(poly, x.toDouble, y.toDouble) >= Margin)
        p = (x, y)
    }
    p
  }

  private def row(dropoffSec: Long, lon: Float, lat: Float): String = {
    val pickup = fmtTs(dropoffSec - 60 - rng.nextInt(1800))
    val dropoff = fmtTs(dropoffSec)
    val plon = -73.99 + rng.nextDouble() * 0.2
    val plat = 40.65 + rng.nextDouble() * 0.15
    val pc = 1 + rng.nextInt(4)
    val dist = d2(0.5 + rng.nextDouble() * 9)
    val fare = 3 + rng.nextInt(40)
    val tip = d2(rng.nextDouble() * 5)
    val total = d2(fare + 0.8 + tip.toDouble)
    if (rng.nextDouble() < 0.11)
      s"green,2,$pickup,$dropoff,N,1,$plon,$plat,${lon.toDouble},${lat.toDouble},$pc,$dist,$fare,0,0.5,$tip,0,,0.3,$total,1,1"
    else
      s"yellow,1,$pickup,$dropoff,$pc,$dist,$plon,$plat,1,N,${lon.toDouble},${lat.toDouble},2,$fare,0,0.5,$tip,0,0.3,$total"
  }

  /** Writes the `minutes` minute-files of `date` into `dir`, with file
    * `m`'s mtime set to `mtime0 + m` seconds, and returns the plan. */
  def writeDay(dir: Path, date: String, minutes: Int, mtime0: Long): (Day, Seq[Path]) = {
    Files.createDirectories(dir)
    val counts = Hqs.map(hq => hq -> plantCounts()).toMap
    val day0 = java.time.LocalDate.parse(date).toEpochDay * 86400L
    // headquarters dropoffs per minute: (second-of-minute, lon, lat)
    val byMinute = mutable.Map[Int, mutable.ArrayBuffer[(Int, Float, Float)]]()
    for (hq <- Hqs; w <- 0 until WindowsPerDay if w * 10 < minutes; _ <- 0 until counts(hq)(w)) {
      val m = w * 10 + rng.nextInt(10)
      if (m < minutes) {
        val (x, y) = pointIn(Polys(hq))
        byMinute.getOrElseUpdate(m, mutable.ArrayBuffer()) += ((rng.nextInt(60), x, y))
      }
    }
    var rows = 0L
    val files = (0 until minutes).map { m =>
      val hqRows = byMinute.getOrElse(m, mutable.ArrayBuffer())
      val n = rowsPerFile - 10 + rng.nextInt(21)
      val lines = new mutable.ArrayBuffer[String](n + hqRows.size)
      for (_ <- 0 until n) {
        val lon = (-73.99 + rng.nextDouble() * 0.24).toFloat
        val lat = (40.60 + rng.nextDouble() * 0.25).toFloat
        lines += row(day0 + m * 60L + rng.nextInt(60), lon, lat)
      }
      for ((s, x, y) <- hqRows) lines += row(day0 + m * 60L + s, x, y)
      val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
        .shuffle(lines)
      rows += shuffled.size
      val f = dir.resolve("part-%s-%02d%02d.csv".format(date, m / 60, m % 60))
      Files.write(f, shuffled.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(f, FileTime.fromMillis((mtime0 + m) * 1000L))
      f
    }
    // planted counts restricted to the minutes written
    val written = counts.map { case (hq, c) =>
      hq -> Array.tabulate(WindowsPerDay)(w => if (w * 10 < minutes) c(w) else 0)
    }
    (Day(date, written, rows), files)
  }
}

object TaxiFeed {
  val WindowsPerDay = 144
  val Margin = 1e-4
  val Hqs = Seq("citigroup", "goldman")
  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  // [lon, lat] vertices of the reference's headquarters quads.
  val Polys: Map[String, Array[Double]] = Map(
    "goldman" -> Array(-74.0141012, 40.7152191, -74.013777, 40.7152275,
      -74.0141027, 40.7138745, -74.0144185, 40.7140753),
    "citigroup" -> Array(-74.011869, 40.7217236, -74.009867, 40.721493,
      -74.010140, 40.720053, -74.012083, 40.720267))

  /** Even-odd ray cast; the margin keeps test points off the boundary. */
  def inside(poly: Array[Double], x: Double, y: Double): Boolean = {
    val n = poly.length / 2
    var in = false
    var j = n - 1
    for (i <- 0 until n) {
      val (xi, yi, xj, yj) = (poly(2 * i), poly(2 * i + 1), poly(2 * j), poly(2 * j + 1))
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) in = !in
      j = i
    }
    in
  }

  def edgeDistance(poly: Array[Double], x: Double, y: Double): Double = {
    val n = poly.length / 2
    (0 until n).map { i =>
      val j = (i + 1) % n
      val (ax, ay, bx, by) = (poly(2 * i), poly(2 * i + 1), poly(2 * j), poly(2 * j + 1))
      val t = math.max(0.0, math.min(1.0,
        ((x - ax) * (bx - ax) + (y - ay) * (by - ay)) / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))))
      math.hypot(x - (ax + t * (bx - ax)), y - (ay + t * (by - ay)))
    }.min
  }

  /** Task4 window-end stamp: seconds of day of the end of window `w`
    * (the last window of a day ends at midnight, stamp 0). */
  def stamp(w: Int): Int = ((w + 1) * 600) % 86400

  /** Trend files expected when each trigger consumes exactly one event
    * hour of `day`: windows 1..5 of an hour fire when their count is at
    * least 10 and at least twice the window before, which is in the same
    * trigger. Keys are the sink's file names, values their bodies. */
  def hourlyTriggerTruth(day: TaxiFeed#Day): Map[String, String] = {
    val fired = for {
      h <- 0 until 24; k <- 1 until 6; hq <- Hqs
      w = h * 6 + k
      c = day.counts(hq)(w); p = day.counts(hq)(w - 1)
      if p > 0 && c >= 10 && c >= 2 * p && stamp(w) - stamp(w - 1) == 600
    } yield (stamp(w), hq, c, p)
    fired.groupBy(_._1).map { case (ts, rows) =>
      val name = s"part-${(if (ts == 0) 24L else ts.toLong) * 100L}"
      name -> rows.sortBy(_._2).map { case (t, hq, n, p) => s"($hq, ($n, $t, $p))" }.mkString("\n")
    }
  }

  private val Firing = "The number of arrivals to (\\w+) has doubled from (\\d+) to (\\d+) at (\\d+)!".r

  /** Problems with trend lines printed while triggers consumed arbitrary
    * file groups of `day`: each must meet the trend rule, and neither
    * count may exceed the window's true final count. */
  def firingViolations(day: TaxiFeed#Day, lines: Seq[String]): Seq[String] =
    lines.flatMap {
      case Firing(hq, p, n, t) =>
        val (prev, cnt, ts) = (p.toLong, n.toLong, t.toInt)
        val w = ts / 600 - 1
        val ok = ts > 0 && cnt >= 10 && cnt >= 2 * prev &&
          cnt <= day.counts(hq)(w) && prev <= day.counts(hq)(w - 1)
        if (ok) None else Some(s"paced trend line breaks the rule: $hq $prev -> $cnt at $ts")
      case other => Some(s"unparsed trend line: $other")
    }
}
