package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the trace, the
  * run's scratch directory, and the raw record that `run.py` turns
  * into metrics. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: String,
    val seed: Long, val seconds: Int, val cores: Int, val dataDir: String,
    val sliceBatches: Int) {
  val record = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
    ok
  }
  def checkRecords: Seq[Map[String, Any]] = checks.toSeq

  def path(rel: String): String = Paths.get(work, rel).toString
  def timeMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }
}

object Ctx {
  /** Repetitions of a workload's set-up; `setup_s` counts their median once. */
  val setupReps = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Main {
  /** Fixed single-thread CPU loop; its wall time tracks host speed.
    * Recorded beside the metrics, never used to scale them. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xFF
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Resident-set high-water mark of this process, MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def session(cores: Int, work: String, trace: Trace): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace.jobsEnabled) spark.sparkContext.addSparkListener(trace.sparkListener)
    spark.streams.addListener(trace.queryListener)
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val work = opts("work")
    val out = opts("out")
    Files.createDirectories(Paths.get(work))
    if (workload == "oracle-sql") {
      // the DuckDB oracle SQL of the analytics set, for oracle/make_oracle.py
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(out), Json.render(
        Analytics.queries.map(q => q -> sql(q)).toMap))
      return
    }

    val calibStart = calibrate()
    val trace = new Trace(s"$workload-$seed", traced)
    val spark = session(cores, work, trace)
    val ctx = new Ctx(spark, trace, work, seed, seconds, cores,
      opts.getOrElse("data", ""), opts.getOrElse("slice", "0").toInt)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val gc0 = gcMs()
    var error: Option[Throwable] = None
    def guarded(body: => Unit): Unit =
      try body
      catch {
        case t: Throwable =>
          error = Some(t)
          t.printStackTrace()
      }
    guarded {
      workload match {
        case "replay_catchup" => Catchup.run(ctx, jvmStartMs)
        case "analytics" => Analytics.run(ctx, jvmStartMs)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    // the traced catch-up run goes on with the open-loop live phase,
    // recorded on its own trace so the two phases' triggers stay apart
    val live = if (!(traced && workload == "replay_catchup" && ctx.sliceBatches == 0 &&
                     error.isEmpty)) None
      else {
        val liveTrace = new Trace(s"live-$seed", jobsEnabled = true)
        spark.sparkContext.removeSparkListener(trace.sparkListener)
        spark.streams.removeListener(trace.queryListener)
        spark.sparkContext.addSparkListener(liveTrace.sparkListener)
        spark.streams.addListener(liveTrace.queryListener)
        val liveCtx = new Ctx(spark, liveTrace, Paths.get(work, "live").toString, seed,
          Live.windowSeconds, cores, ctx.dataDir, 0)
        guarded(Live.run(liveCtx))
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Some(Map("attempted" -> liveCtx.attempted, "failed" -> liveCtx.failed,
          "checks" -> liveCtx.checkRecords, "result" -> liveCtx.record,
          "trace" -> liveTrace.toJson))
      }
    val calibEnd = calibrate()
    val rec = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cores,
      "error" -> error.map(e => s"${e.getClass.getName}: ${e.getMessage}"),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "checks" -> ctx.checkRecords,
      "calibration_ms" -> Map("start" -> calibStart, "end" -> calibEnd),
      "peak_rss_mb" -> peakRssMb(), "gc_ms" -> (gcMs() - gc0),
      "wall_ms" -> (trace.nowMs - jvmStartMs),
      "result" -> ctx.record, "trace" -> trace.toJson, "live" -> live)
    Files.writeString(Paths.get(out), Json.render(rec))
    spark.stop()
    sys.exit(if (error.isEmpty) 0 else 1)
  }
}
