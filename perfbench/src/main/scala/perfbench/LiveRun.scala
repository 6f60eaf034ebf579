package perfbench

import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.domain.Transit
import graft.sources.GtfsCsv
import graft.streaming.Streams
import graft.streaming.Streams.Passage

/** The live delay board: a seeded network written as a GTFS bundle,
  * loaded with `GtfsCsv`, turned into the schedule dimension with
  * `Transit`, and a `Streams.delayBoard` query fed from a MemoryStream.
  *
  * Set-up ends once the board has absorbed a few polling cycles. Then
  * an open-loop generator thread adds one station poll every
  * 1/[[LiveRun.PollsPerSecond]] s for `seconds`, each stamped with the
  * time it was due; a poll's lag runs from that due time to the end of
  * the micro-batch that put it on the board. Last, [[LiveRun.Drains]]
  * backlogs that together hold [[LiveRun.BacklogCycles]] cycles are each
  * added at once and drained, one after another.
  *
  * The final board must equal `Transit.matchPassages` →
  * `computeDelays` → latest per (station, train) over the passages the
  * stream was given. */
final case class LiveRun(work: String, seed: Long, seconds: Double,
    traced: Boolean) {
  import LiveRun._

  def run(): String = {
    val s0 = Main.nowS
    val spark = Main.session(work)
    import spark.implicits._
    val sessionS = Main.nowS - s0
    val appId = spark.sparkContext.applicationId
    val trace = if (traced) {
      val t = new Trace(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val streamTrace = if (traced) {
      val st = new StreamTrace
      spark.streams.addListener(st)
      Some(st)
    } else None

    val g0 = Main.nowS
    val net = new Network(seed)
    val gtfsDir = s"$work/gtfs"
    net.writeGtfs(gtfsDir)
    val livePolls = math.round(seconds * PollsPerSecond).toInt
    val liveCycles = (livePolls + Network.Stations - 1) / Network.Stations
    val feed = net.feed(WarmupCycles + liveCycles + BacklogCycles)
    val genS = Main.nowS - g0

    val l0 = Main.nowS
    val bundle = GtfsCsv.readBundle(spark, gtfsDir)
      .map { case (n, df) => n -> df.localCheckpoint() }
    val loadS = Main.nowS - l0

    val c0 = Main.nowS
    val ext = Transit.stopTimesExt(bundle("trips"), bundle("stop_times"), bundle("stops"))
    val active = Transit.activeServices(bundle("calendar"), bundle("calendar_dates"), net.dayYmd)
    val sched = ext.join(active, "service_id")
      .select(col("trip_id"),
        regexp_extract(col("stop_id"), "([0-9]{7})", 1).as("station7"),
        col("stop_sequence"), col("departure_secs"))
      .localCheckpoint()
    val schedS = Main.nowS - c0

    // rows spread over one partition per core: by default every addData
    // call (one poll) becomes a partition and a task of its own, and a
    // micro-batch's cost would grow with the polls it covers
    val mem = MemoryStream[Passage](1, spark, Some(Main.cores))
    val query = Streams.delayBoard(mem.toDS(), sched).writeStream
      .format("memory").queryName("board").outputMode("update")
      .option("checkpointLocation", s"$work/board_checkpoint")
      .start()
    feed.take(WarmupCycles).foreach { cycle =>
      mem.addData(cycle.flatten)
      query.processAllAvailable()
    }
    val warmBatches = query.recentProgress.length
    val setupS = Main.uptimeS

    // open loop: the generator keeps its schedule whatever the board does
    val polls = (0 until livePolls).map(i =>
      (WarmupCycles + i / Network.Stations, i % Network.Stations))
    val dueMs = new Array[Double](polls.size)
    val lateMs = new Array[Double](polls.size)
    val offsets = new Array[Long](polls.size)
    val gc0 = Trace.gcMs()
    val before = trace.map(_.snapshot())
    val t0 = System.currentTimeMillis() + 20.0
    val generator = new Thread(() => {
      polls.indices.foreach { i =>
        val due = t0 + i * 1000.0 / PollsPerSecond
        var now = System.currentTimeMillis()
        while (now < due) {
          Thread.sleep(math.max(0L, math.ceil(due - now).toLong))
          now = System.currentTimeMillis()
        }
        val (c, s) = polls(i)
        dueMs(i) = due
        lateMs(i) = now - due
        offsets(i) = mem.addData(feed(c)(s)).json().toLong
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    query.processAllAvailable()

    // equal backlogs, each drained before the next is added
    val backlogs = feed.drop(WarmupCycles + liveCycles).grouped(BacklogCycles / Drains)
      .map(_.flatten.flatten).toSeq
    val drainS = backlogs.map { backlog =>
      val d0 = Main.nowS
      mem.addData(backlog)
      query.processAllAvailable()
      Main.nowS - d0
    }
    val after = trace.map(_.snapshot())
    val layerTotals = before.map(b => after.get - b)
    val runMs = trace.map(_.jobWallMs(before.get, after.get)).getOrElse(0L)
    val gcS = (Trace.gcMs() - gc0) / 1e3
    val peakRssMb = Trace.peakRssMb()

    val progress = query.recentProgress.toSeq.drop(warmBatches)
    val batchEnds = progress.filter(_.sources.head.endOffset != null).map { p =>
      (p.sources.head.endOffset.toLong,
        Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").toLong)
    }
    val lagMs = polls.indices.map { i =>
      batchEnds.find(_._1 >= offsets(i)).map(_._2 - dueMs(i)).getOrElse(Double.NaN)
    }
    val streamError = query.exception.map(e => Main.errText(e))

    // after the clock: the reference board, and a call that must throw
    val allPassages = feed.take(WarmupCycles).flatten.flatten ++
      polls.flatMap { case (c, st) => feed(c)(st) } ++ backlogs.flatten
    val b0 = Main.nowS
    val batch = latest(Transit.computeDelays(Transit.matchPassages(
      allPassages.toDF(), ext, active, net.dayYmd), net.dayYmd)
      .withColumn("delay_min", expr("delay_sec div 60")))
    val batchRows = batch.collect()
    val batchBoardS = Main.nowS - b0
    val streamedRows = latest(spark.table("board")).collect()
    // the planted cases must reach the board, or equality proves little
    val boardOk = streamError.isEmpty &&
      streamedRows.exists(_.getAs[Boolean]("cancelled")) &&
      streamedRows.exists(_.getAs[Long]("delay_sec") > 0) &&
      rowSet(batchRows) == rowSet(streamedRows)
    val boardStats = Seq(
      "board_rows" -> streamedRows.length.toDouble,
      "reference_rows" -> batchRows.length.toDouble,
      "cancelled_rows" -> streamedRows.count(_.getAs[Boolean]("cancelled")).toDouble,
      "late_rows" -> streamedRows.count(_.getAs[Long]("delay_sec") > 0).toDouble,
      "passages" -> allPassages.size.toDouble)
    val control = try {
      spark.conf.set("spark.sql.session.timeZone", "Europe/Paris")
      Transit.computeDelays(allPassages.take(1).toDF()
        .withColumn("departure_secs", lit(0L)), net.dayYmd)
      null
    } catch { case NonFatal(e) => "domain: " + Main.errText(e) }
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")

    query.stop()
    val progressTraced = streamTrace.map(_.progress.asScala.toSeq.drop(warmBatches))
    spark.stop()
    val (dirsLeft, tmpMb) = Main.sweepTmp(appId)
    val ckptMb = Main.treeBytes(s"$work/board_checkpoint") / 1e6

    val layer = layerTotals.map { t =>
      val wallS = seconds + drainS.sum
      Seq(
        "engine.session_s" -> sessionS, "sources.gtfs_load_s" -> loadS,
        "domain.schedule_s" -> schedS, "domain.batch_board_s" -> batchBoardS,
        "generator.gen_s" -> genS,
        "scheduler.jobs" -> t.jobs.toDouble, "scheduler.stages" -> t.stages.toDouble,
        "scheduler.tasks" -> t.tasks.toDouble,
        "exec.run_s" -> runMs / 1e3, "exec.task_s" -> t.taskMs / 1e3,
        "exec.core_util" -> t.taskMs / 1e3 / (wallS * Main.cores),
        "exec.shuffle_mb" -> t.shuffleBytes / 1e6, "exec.spill_mb" -> t.spillBytes / 1e6,
        "catalyst.codegen_compiles" -> t.compiles.toDouble,
        "streaming.drain_passages_per_s" -> backlogs.map(_.size).sum / drainS.sum)
    }.getOrElse(Nil) ++ progressTraced.map(streamTotals).getOrElse(Nil) ++
      Seq("jvm.gc_s" -> gcS, "sinks.dirs_left" -> dirsLeft.toDouble)

    Json.obj(
      "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "tmp_left_mb" -> Json.num(tmpMb + ckptMb),
      "app_id" -> Json.str(appId),
      "total_s" -> Json.num(drainS.sum),
      "drain_s" -> Json.arr(drainS.map(Json.num)),
      "lag_ms" -> Json.arr(lagMs.map(Json.num)),
      "backlog_passages" -> backlogs.map(_.size).sum.toString,
      "stream_error" -> streamError.map(Json.str).getOrElse("null"),
      "board_ok" -> boardOk.toString,
      "board" -> Json.nums(boardStats),
      "control" -> Json.obj("error" -> (if (control == null) "null" else Json.str(control))),
      "layer" -> Json.nums(layer),
      "series" -> Json.obj((("late_ms" -> lateMs.toSeq) +:
        progressTraced.map(streamSeries).getOrElse(Nil)).map { case (k, xs) =>
          k -> Json.arr(xs.map(Json.num)) }: _*))
  }

  /** The board as a rider sees it: the latest entry per (station,
    * train), in the columns both the stream and the reference carry. */
  private def latest(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy("station_id", "day_train_num")
      .orderBy(col("request_time").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(BoardCols.map(col): _*)
  }

  private def rowSet(rows: Array[Row]): Set[String] =
    rows.map(_.toSeq.mkString("|")).toSet

  /** Totals over the traced micro-batches. */
  private def streamTotals(ps: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    val state = ps.flatMap(_.stateOperators.headOption)
    val in = ps.map(_.numInputRows).sum.toDouble
    val out = ps.map(p => Option(p.sink).map(_.numOutputRows).getOrElse(0L)).sum.toDouble
    Seq(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> state.lastOption.map(_.memoryUsedBytes / 1e6).getOrElse(0.0),
      "streaming.emit_ratio" -> (if (in > 0) out / in else 0.0))
  }

  /** Per-micro-batch durations, in ms; run.py takes their percentiles. */
  private def streamSeries(ps: Seq[StreamingQueryProgress]): Seq[(String, Seq[Double])] = {
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    Seq("batch_ms" -> dur("triggerExecution"), "addbatch_ms" -> dur("addBatch"),
      "planning_ms" -> dur("queryPlanning"), "walcommit_ms" -> dur("walCommit"),
      "state_commit_ms" -> ps.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble))
  }
}

object LiveRun {
  /** How much faster than the reference's own loop the generator
    * polls: [[Network.Stations]] polls every [[Network.CycleS]] s. */
  val TimeCompression = 16.0
  /** Station polls added per second by the open-loop generator. */
  val PollsPerSecond: Double = Network.Stations * TimeCompression / Network.CycleS
  /** Polling cycles the board absorbs one by one during set-up. */
  val WarmupCycles = 3
  /** Polling cycles (one poll per station each) drained after the open
    * loop, in [[Drains]] equal backlogs. */
  val BacklogCycles = 10
  val Drains = 5
  val BoardCols: Seq[String] = Seq("station_id", "day_train_num", "num", "miss",
    "term", "trip_id", "expected_ts", "scheduled_ts", "delay_sec", "delay_min",
    "cancelled")
}
