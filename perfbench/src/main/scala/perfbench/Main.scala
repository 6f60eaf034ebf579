package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` picks the inputs, launches this
  * program once per run and checks what it leaves in the work
  * directory; see README.md.
  *
  * {{{
  * perfbench.Main catalog <work> <sfDir> <keysFile> <warmupKeysFile> <trace 0|1>
  * perfbench.Main live    <work> <seed> <seconds> <trace 0|1>
  * perfbench.Main oracle-sql <work>
  * }}}
  * Each writes `<work>/result.json`; `oracle-sql` writes every declared
  * key's DuckDB oracle SQL, for record_oracle.py. */
object Main {

  def main(args: Array[String]): Unit = {
    val result = args(0) match {
      case "catalog" =>
        def lines(path: String) = Files.readAllLines(Paths.get(path), UTF_8)
          .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
        CatalogRun(work = args(1), sfDir = args(2), keys = lines(args(3)),
          warmupKeys = lines(args(4)), traced = args(5) == "1").run()
      case "live" =>
        LiveRun(work = args(1), seed = args(2).toLong,
          seconds = args(3).toDouble, traced = args(4) == "1").run()
      case "oracle-sql" =>
        Json.obj(graft.engine.Registry.oracleSql.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.str(v) }: _*)
      case other => sys.error(s"unknown mode $other")
    }
    Files.writeString(Paths.get(s"${args(1)}/result.json"), result)
    // Spark leaves non-daemon threads behind in some versions; the
    // result is on disk, so end the JVM explicitly.
    System.exit(0)
  }

  /** Cores for `local[N]`: SPARK_GRAFT_CPUS, else the machine's count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(work: String): SparkSession = {
    val n = cores
    new File(s"$work/spark-local").mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // run.py removes /tmp entries carrying this id if the JVM dies
    Files.writeString(Paths.get(s"$work/app_id"),
      spark.sparkContext.applicationId)
    spark
  }

  /** Seconds since this JVM started: set-up time includes JVM start. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def nowS: Double = System.nanoTime() / 1e9

  /** Engine entries under /tmp whose names carry `appId` (sink
    * directories), as (name, bytes, file names). */
  def tmpEntries(appId: String): Seq[(String, Long, Set[String])] = {
    val tags = Set(appId, appId.replaceAll("[^a-zA-Z0-9]", "_"))
    Option(new File("/tmp").listFiles()).toSeq.flatten
      .filter(f => tags.exists(f.getName.contains))
      .map { f =>
        val files = walk(f)
        (f.getName, files.map(_.length).sum, files.map(_.getName).toSet)
      }
  }

  def treeBytes(path: String): Long = walk(new File(path)).map(_.length).sum

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Measure what the stopped session left under /tmp, then delete
    * exactly those entries. Returns (entries, MB). */
  def sweepTmp(appId: String): (Int, Double) = {
    val left = tmpEntries(appId)
    left.foreach { case (n, _, _) => deleteTree(new File(s"/tmp/$n")) }
    (left.size, left.map(_._2).sum / 1e6)
  }

  /** `f` over `xs` on one thread per core, results in input order. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replaceAll("\\s+", " ").take(300)
}

/** Minimal JSON writer: the result file is read by run.py. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def nums(kv: Seq[(String, Double)]): String =
    obj(kv.map { case (k, v) => k -> num(v) }: _*)
}
