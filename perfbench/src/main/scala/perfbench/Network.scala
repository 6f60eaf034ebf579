package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

import graft.streaming.Streams.Passage

/** A seeded synthetic Transilien network and its real-time feed.
  *
  * The network is a GTFS bundle: stations on a handful of lines, trips
  * in both directions, a calendar whose services run on weekday
  * regimes, plus a service added and one removed by `calendar_dates` on
  * the board day. It plants the cases the matching rules exist for:
  * departures past midnight (`24:xx`, `25:xx`), a loop line whose trips
  * call at one station twice, trips whose service does not run that
  * day, short train numbers contained in two trip ids (ambiguous) and
  * numbers in no trip id (unmatched).
  *
  * The feed is a sequence of polling cycles on the board day, one every
  * [[Network.CycleS]] seconds. In each cycle every station is polled
  * once and reports the trains due in the next 90 minutes, with a
  * per-train delay that drifts from cycle to cycle; six running trains
  * are cancelled.
  *
  * The sizes follow the reference's polling loop where it is known: a
  * cycle polls every one of a few hundred stations ([[Network.Stations]])
  * and cycles run every two minutes, the cadence graft's own streaming
  * mapping uses for it. Lines, stops per line, headway and horizon are
  * this generator's choices; README.md lists which figure comes from
  * where. */
final class Network(seed: Long) {
  import Network.Trip
  private val rnd = new Random(seed)

  val stations: IndexedSeq[String] = {
    val uic = mutable.LinkedHashSet.empty[String]
    while (uic.size < Network.Stations) uic += f"87${rnd.nextInt(100000)}%05d"
    uic.toIndexedSeq
  }

  /** Board day in May 2017, yyyymmdd and ISO forms. */
  val day: LocalDate = LocalDate.of(2017, 5, 1).plusDays(rnd.nextInt(28).toLong)
  val dayYmd: String = day.format(DateTimeFormatter.BASIC_ISO_DATE)
  val dayIso: String = day.toString
  private val dayStartMs = day.atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000L
  private val dow = day.getDayOfWeek.getValue // 1 = Monday

  /** service_id -> (mon..sun flags); EX runs only by exception, RM is
    * removed by exception on the board day. */
  private val services: Seq[(String, Seq[Int])] = Seq(
    "WK" -> Seq(1, 1, 1, 1, 1, 0, 0), "SA" -> Seq(0, 0, 0, 0, 0, 1, 0),
    "SU" -> Seq(0, 0, 0, 0, 0, 0, 1), "AL" -> Seq(1, 1, 1, 1, 1, 1, 1),
    "EX" -> Seq(0, 0, 0, 0, 0, 0, 0), "RM" -> Seq(1, 1, 1, 1, 1, 1, 1))
  private val regime = services.find { case (s, f) => s != "AL" && s != "EX" &&
    s != "RM" && f(dow - 1) == 1 }.get._1
  private def runsToday(svc: String): Boolean = svc == regime || svc == "AL" || svc == "EX"

  private val usedNums = mutable.HashSet.empty[String]
  private def freshNum(): String = {
    var n = ""
    do n = (100000 + rnd.nextInt(800000)).toString while (usedNums(n))
    usedNums += n
    n
  }

  val trips: IndexedSeq[Trip] = {
    val out = mutable.ArrayBuffer.empty[Trip]
    for (line <- 0 until Network.Lines) {
      // every line has the same length and headway, so the feed's
      // volume does not depend on the seed
      val stops = rnd.shuffle(stations.indices.toList).take(Network.StopsPerLine).toIndexedSeq
      // the last line is a loop: it returns to its first station
      val path0 = if (line == Network.Lines - 1) stops :+ stops.head else stops
      val hops = path0.indices.map(_ => 120 + 60 * rnd.nextInt(4))
      val headway = Network.HeadwayS
      for (dir <- 0 to 1) {
        val path = if (dir == 0) path0 else path0.reverse
        var start = 20 * 3600 + rnd.nextInt(headway)
        while (start < 25 * 3600 + 1800) {
          val svcDraw = rnd.nextInt(20)
          val svc = if (svcDraw == 0) "EX" else if (svcDraw == 1) "RM"
            else if (svcDraw == 2) services(rnd.nextInt(3))._1 else if (svcDraw < 8) "AL"
            else regime
          val num = freshNum()
          val calls = path.indices.map(i => path(i) -> (start + hops.take(i).sum))
          out += Trip(s"DUASN${num}F$svc", num, svc, calls)
          start += headway
        }
      }
    }
    out.toIndexedSeq
  }

  /** Running trips that get a twin trip, same calls, whose number
    * shares their five-digit tail: that tail, polled as a train number
    * at the first station, is contained in two trip ids (ambiguous).
    * Returns (tail, station index). */
  val ambiguous: Seq[(String, Int)] = {
    val running = trips.filter(t => runsToday(t.svc))
    rnd.shuffle(running.toList).iterator.map { t =>
      val tail = t.num.substring(1)
      (t, tail, ((t.num.head - '0') % 8 + 1).toString + tail)
    }.filterNot(x => usedNums(x._3)).take(Network.Ambiguous).map { case (t, tail, twinNum) =>
      usedNums += twinNum
      extraTrips += Trip(s"DUASN${twinNum}F${t.svc}", twinNum, t.svc, t.calls)
      tail -> t.calls.head._1
    }.toList
  }
  private lazy val extraTrips = mutable.ArrayBuffer.empty[Trip]

  def allTrips: Seq[Trip] = trips ++ extraTrips

  private def secsToGtfs(s: Int): String = f"${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"

  /** Write the network as a GTFS CSV bundle. */
  def writeGtfs(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    def write(name: String, header: String, rows: Iterable[String]): Unit =
      Files.writeString(Paths.get(s"$dir/$name.txt"),
        (header +: rows.toSeq).mkString("", "\n", "\n"), UTF_8)
    write("stops", "stop_id,stop_name,stop_lat,stop_lon,parent_station",
      stations.zipWithIndex.map { case (u, i) =>
        f"StopPoint:DUA$u,Gare $i,${48.5 + i * 0.01}%.4f,${2.0 + i * 0.01}%.4f," })
    write("trips", "trip_id,route_id,service_id,trip_headsign",
      allTrips.map(t => s"${t.id},L${t.num.head},${t.svc},${t.num}"))
    write("stop_times", "trip_id,arrival_time,departure_time,stop_id,stop_sequence",
      allTrips.flatMap(t => t.calls.zipWithIndex.map { case ((s, d), i) =>
        s"${t.id},${secsToGtfs(d)},${secsToGtfs(d)},StopPoint:DUA${stations(s)},${i + 1}" }))
    val start = day.minusDays(60).format(DateTimeFormatter.BASIC_ISO_DATE)
    val end = day.plusDays(60).format(DateTimeFormatter.BASIC_ISO_DATE)
    write("calendar",
      "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date",
      services.map { case (s, f) => s"$s,${f.mkString(",")},$start,$end" })
    val other = day.plusDays(1).format(DateTimeFormatter.BASIC_ISO_DATE)
    write("calendar_dates", "service_id,date,exception_type",
      Seq(s"EX,$dayYmd,1", s"RM,$dayYmd,2", s"$regime,$other,2", s"SU,$other,1"))
  }

  /** UIC-8 station id: UIC-7 plus its Luhn check digit. */
  private def uic8(u7: String): String = {
    val sum = u7.reverse.zipWithIndex.map { case (c, i) =>
      val d = (c - '0') * (if (i % 2 == 0) 2 else 1)
      d / 10 + d % 10
    }.sum
    u7 + ((10 - sum % 10) % 10).toString
  }

  /** Polling cycles ending before midnight on the board day,
    * [[Network.CycleS]] simulated seconds apart: cycle -> station -> the
    * passages that poll reports. */
  def feed(cycles: Int): IndexedSeq[IndexedSeq[Seq[Passage]]] = {
    val fr = new Random(seed * 31 + 7)
    val delay = mutable.HashMap.empty[String, Int]
    val first = 24 * 3600 - cycles * Network.CycleS
    // cancelled trains call somewhere while the feed runs
    val cancelled = fr.shuffle(trips.filter(t => runsToday(t.svc) &&
        t.calls.exists { case (_, d) => d >= first && d < 24 * 3600 }).map(_.num))
      .take(Network.Cancelled).toSet
    val byStation = trips.flatMap(t => t.calls.map { case (s, d) => (s, t, d) })
      .groupBy(_._1)
    (0 until cycles).map { c =>
      val now = first + c * Network.CycleS
      val rt = f"${now / 3600}%02d:${now / 60 % 60}%02d"
      trips.foreach { t =>
        val d = delay.getOrElse(t.num, 60 * (fr.nextInt(5) - 1))
        val step = fr.nextInt(10)
        delay(t.num) = if (step == 0) d + 60 else if (step == 1 && d > -120) d - 60 else d
      }
      stations.indices.map { s =>
        val sid = uic8(stations(s))
        // a loop trip calling here twice is reported at its next call
        val due = byStation.getOrElse(s, Nil)
          .filter { case (_, t, dep) => dep + delay(t.num) >= now && dep - now <= 5400 }
          .groupBy(_._2.num).values.map(_.minBy(_._3)).toSeq.sortBy(x => (x._3, x._2.num))
        val real = due.map { case (_, t, dep) =>
          val exp = dep + delay(t.num)
          val etat = if (cancelled(t.num)) "Supprimé" else if (delay(t.num) > 0) "Retardé" else null
          Passage(sid, t.num, s"M${t.num.head}", uic8(stations(t.calls.last._1)),
            new Timestamp(dayStartMs + exp * 1000L),
            if (exp - now <= 1800) "R" else "T", etat, dayIso, rt, s"${dayYmd}_${t.num}")
        }
        val planted = ambiguous.collect { case (tail, st) if st == s =>
          Passage(sid, tail, "AMBI", sid, new Timestamp(dayStartMs + (now + 600) * 1000L),
            "R", null, dayIso, rt, s"${dayYmd}_$tail")
        } :+ Passage(sid, f"99$s%05d", "NONE", sid,
          new Timestamp(dayStartMs + (now + 300) * 1000L), "R", null, dayIso, rt,
          f"${dayYmd}_99$s%05d")
        real ++ planted
      }
    }
  }
}

object Network {
  /** `calls`: (station index, departure seconds on the service day). */
  final case class Trip(id: String, num: String, svc: String,
      calls: IndexedSeq[(Int, Int)])

  /** Stations polled in every cycle: the reference polls a few hundred. */
  val Stations = 300
  /** Simulated seconds between two polling cycles. */
  val CycleS = 120
  /** Lines of 30 stops (31 on the loop line) drawn at random: about
    * seven stations in ten are on a line. */
  val Lines = 12
  val StopsPerLine = 30
  val HeadwayS = 900
  val Ambiguous = 4
  val Cancelled = 6
}
