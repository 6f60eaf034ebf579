package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Registry

/** One caller thread in a fresh session calling declared queries
  * through `Registry.byName(key).build`, once per key in the given
  * order, each call writing its complete output to Spark's `noop` sink.
  * That pass is timed. Before it, in set-up, a throw-away session warms
  * the JVM with generic Spark work and `warmupKeys` (keys outside the
  * sample), so the pass prices a fresh session, not JIT compilation.
  *
  * After the clock: one call that must fail (a declared query over a
  * missing scale-factor directory), then the DataFrame each timed call
  * built written to parquet for run.py's oracle check.
  * The checked output is that of the first-touch build that was timed;
  * the pass holds on to the DataFrames for this. */
final case class CatalogRun(work: String, sfDir: String, keys: Seq[String],
    warmupKeys: Seq[String], traced: Boolean) {
  import CatalogRun.Call

  /** A sink directory's identity: the set of files written into it.
    * A rewrite produces new part-file names. */
  private var sinkSeen = Map.empty[String, Set[String]]
  private var sinkBuilds, sinkDups = 0
  private var sinkWrittenBytes = 0L

  private def noteSinks(appId: String): Unit = {
    Main.tmpEntries(appId).foreach { case (name, bytes, files) =>
      sinkSeen.get(name) match {
        case None =>
          sinkBuilds += 1; sinkWrittenBytes += bytes
        case Some(prev) if prev != files =>
          sinkBuilds += 1; sinkDups += 1; sinkWrittenBytes += bytes
        case _ =>
      }
      sinkSeen += name -> files
    }
  }

  /** One call: build, then the complete output to `noop`. Returns the
    * call and, if it succeeded, the DataFrame it built. */
  private def call(spark: SparkSession, trace: Option[Trace], key: String,
      sf: String): (Call, Option[DataFrame]) = {
    val s0 = trace.map(_.snapshot())
    val t0 = Main.nowS
    var t1, t1b = Double.NaN
    var s1: Option[Trace.Snap] = None
    var err: String = null
    var built: Option[DataFrame] = None
    try {
      val df = Registry.byName(key).build(spark, sf)
      t1 = Main.nowS
      // the snapshot's own waiting is not the engine's time
      s1 = trace.map(_.snapshot())
      t1b = Main.nowS
      df.write.format("noop").mode("overwrite").save()
      built = Some(df)
    } catch {
      case NonFatal(e) =>
        err = (if (t1b.isNaN) "build: " else "output: ") + Main.errText(e)
    }
    val t2 = Main.nowS
    if (t1.isNaN) t1 = t2
    if (t1b.isNaN) t1b = t2
    val call = Call(key, t1 - t0, t2 - t1b, err)
    trace.fold(call) { tr =>
      val s2 = tr.snapshot()
      val mid = s1.getOrElse(s2)
      noteSinks(spark.sparkContext.applicationId)
      call.copy(buildJobs = (mid - s0.get).jobs, planS = (s2 - mid).outputPlanNs / 1e9,
        runS = tr.jobWallMs(mid, s2) / 1e3)
    } -> built
  }

  def run(): String = {
    val r0 = Main.nowS
    val unknown = (keys ++ warmupKeys).filterNot(Registry.byName.contains)
    require(unknown.isEmpty, s"keys not in the registry: ${unknown.mkString(",")}")
    val registryS = Main.nowS - r0

    // JIT warm-up in a throw-away session: a first caller meets a
    // long-running JVM, not a cold one
    val j0 = Main.nowS
    val scratch = Main.session(work)
    val scratchId = scratch.sparkContext.applicationId
    CatalogRun.warmup(scratch, sfDir)
    warmupKeys.foreach(k => call(scratch, None, k, sfDir))
    scratch.stop()
    Main.sweepTmp(scratchId)
    val jvmWarmupS = Main.nowS - j0

    val s0 = Main.nowS
    val spark = Main.session(work)
    val sessionS = Main.nowS - s0
    val appId = spark.sparkContext.applicationId
    val trace = if (traced) {
      val t = new Trace(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val setupS = Main.uptimeS

    val gc0 = Trace.gcMs()
    val before = trace.map(_.snapshot())
    val sinks0 = (sinkBuilds, sinkDups, sinkWrittenBytes)
    val w0 = Main.nowS
    val (calls, built) = keys.map(k => call(spark, trace, k, sfDir)).unzip
    val wallS = Main.nowS - w0
    val layerTotals = before.map(b => trace.get.snapshot() - b)
    val gcS = (Trace.gcMs() - gc0) / 1e3
    val peakRssMb = Trace.peakRssMb()
    val sinksTimed = (sinkBuilds - sinks0._1, sinkDups - sinks0._2,
      sinkWrittenBytes - sinks0._3)

    // after the clock: a call that must throw, then the timed calls'
    // own outputs for the oracle check; every sink exists by now, so
    // the order of the writes does not matter
    val control = call(spark, None, "scan_parquet", s"$work/no_such_sf")._1
    val dumpErr = Main.parallel(keys.zip(built)) { case (k, df) =>
      try {
        df.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$work/out/$k"))
        None
      } catch { case NonFatal(e) => Some(k -> ("dump: " + Main.errText(e))) }
    }.flatten

    spark.stop()
    val (dirsLeft, tmpLeftMb) = Main.sweepTmp(appId)

    val layer: Seq[(String, Double)] = layerTotals.map { t =>
      val n = Main.cores
      Seq(
        "engine.jvm_warmup_s" -> jvmWarmupS,
        "engine.session_s" -> sessionS, "engine.registry_s" -> registryS,
        "queries.build_s" -> calls.map(_.buildS).sum,
        "queries.build_jobs" -> calls.map(_.buildJobs).sum.toDouble,
        "catalyst.plan_s" -> calls.map(_.planS).sum,
        "catalyst.codegen_compiles" -> t.compiles.toDouble,
        "scheduler.jobs" -> t.jobs.toDouble, "scheduler.stages" -> t.stages.toDouble,
        "scheduler.tasks" -> t.tasks.toDouble,
        "exec.run_s" -> calls.map(_.runS).sum,
        "exec.task_s" -> t.taskMs / 1e3,
        "exec.core_util" -> t.taskMs / 1e3 / (wallS * n),
        "exec.shuffle_mb" -> t.shuffleBytes / 1e6, "exec.spill_mb" -> t.spillBytes / 1e6,
        "sinks.builds" -> sinksTimed._1.toDouble, "sinks.dup_builds" -> sinksTimed._2.toDouble,
        "sinks.build_s" -> t.sinkWriteNs / 1e9, "sinks.written_mb" -> sinksTimed._3 / 1e6)
    }.getOrElse(Nil) ++ Seq("jvm.gc_s" -> gcS, "sinks.dirs_left" -> dirsLeft.toDouble)

    Json.obj(
      "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "tmp_left_mb" -> Json.num(tmpLeftMb),
      "app_id" -> Json.str(appId),
      "calls" -> Json.arr(calls.map(_.json)),
      "control" -> control.json,
      "dump_errors" -> Json.obj(dumpErr.map { case (k, e) => k -> Json.str(e) }: _*),
      "layer" -> Json.nums(layer))
  }
}

object CatalogRun {
  /** Generic Spark work over the same tables, none of it graft code:
    * scans, filters, joins, aggregations, windows, sorts, explode. */
  def warmup(spark: SparkSession, sf: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def t(n: String) = spark.read.parquet(s"$sf/$n.parquet")
    val li = t("lineitem")
    val o = t("orders")
    Seq(
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_extendedprice"), avg("l_discount"), count(lit(1))),
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(countDistinct("o_custkey")),
      o.withColumn("rn", row_number().over(
        Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc)))
        .filter(col("rn") <= 2),
      t("documents").select(explode(split(col("text"), " ")).as("w"), col("lang"))
        .groupBy("w", "lang").count().orderBy(desc("count")),
      t("customer").join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(max("c_acctbal"), collect_set("c_mktsegment")),
      t("part").filter(col("p_size") > 10)
        .select(upper(col("p_name")), round(col("p_retailprice") * 1.1, 2)).distinct(),
      t("embeddings").select(col("label"), aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x * x).as("n2")).groupBy("label").agg(avg("n2")),
      li.select(col("l_partkey"), col("l_quantity")).union(
        li.select(col("l_suppkey"), col("l_tax"))).except(o.select(col("o_orderkey"),
        col("o_totalprice"))).sort("l_partkey")
    ).foreach(_.write.format("noop").mode("overwrite").save())
  }

  /** One call's timings; the job and phase figures only when traced. */
  final case class Call(key: String, buildS: Double, outS: Double, err: String,
      buildJobs: Long = 0, planS: Double = 0, runS: Double = 0) {
    def json: String = Json.obj(
      "key" -> Json.str(key),
      "build_s" -> Json.num(buildS), "latency_s" -> Json.num(buildS + outS),
      "error" -> (if (err == null) "null" else Json.str(err)))
  }
}
