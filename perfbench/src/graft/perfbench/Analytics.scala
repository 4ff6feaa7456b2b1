package graft.perfbench

import scala.collection.mutable

import graft.{SparkEntry, Tables}

/** `analytics`: a fixed registered query set over the bundled table
  * set, no stream. One cold pass writes every result (the oracle check
  * reads it back), then warm passes run the set through the `noop`
  * sink. The inputs are fixed (their oracle hashes are stored), so the
  * seed changes nothing here. */
object Analytics {
  /** Covers planning, codegen, the native kernels, shuffles and scans;
    * cat_fk_index_cols reaches `maintenance`; td_heavy_hitters and
    * td_source_neardup are open performance cases. */
  val queries: Seq[String] = Seq(
    "q1_agg", "q3_multi_join", "cat_fk_index_cols", "td_heavy_hitters",
    "td_winnowing", "td_source_neardup")
  /** Timed warm passes: one per 6 s of requested run time, at least
    * one; a query's warm time is its median over them, so one pass
    * slowed by the host does not move it. An untimed settle pass runs
    * first: the pass after the cold one still pays JIT warm-up
    * (measured 10–30% slower). */
  def warmPasses(seconds: Int): Int = math.max(1, seconds / 6)

  def run(ctx: Ctx, jvmStartMs: Double): Unit = {
    import ctx._
    val reg = SparkEntry.queries
    val missing = queries.filterNot(reg.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(", ")}")
    val sc = spark.sparkContext

    // set-up: open and scan every table through the program's loaders
    val repMs = (0 until Ctx.setupReps).map { _ =>
      timeMs(trace.span("setup.rep") {
        Tables.names.foreach(t => Tables.load(spark, dataDir, t).count())
      })._2
    }
    record("setup_rep_ms") = repMs
    val t0 = trace.nowMs
    record("setup_ms") = t0 - jvmStartMs - repMs.sum + Ctx.median(repMs)

    val cold = mutable.LinkedHashMap.empty[String, Double]
    queries.foreach { q =>
      attempted += 1
      sc.setJobDescription(s"aq $q cold")
      try {
        cold(q) = timeMs(trace.span(s"query.$q.cold") {
          reg(q)(spark, dataDir).write.mode("overwrite").parquet(path(s"out/$q"))
        })._2
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: $e")
      }
    }
    val warm = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    (-1 until warmPasses(seconds)).foreach { pass =>
      val label = if (pass < 0) "settle" else "warm"
      queries.foreach { q =>
        attempted += 1
        sc.setJobDescription(s"aq $q $label")
        try {
          val ms = timeMs(trace.span(s"query.$q.$label") {
            reg(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
          })._2
          if (pass >= 0) warm.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] $q failed: $e")
        }
      }
    }
    sc.setJobDescription(null)
    // planning only (analysis + optimization + physical planning), per
    // the query's own QueryExecution tracker; trace runs only
    val planMs =
      if (!trace.jobsEnabled) Map.empty[String, Double]
      else queries.map { q =>
        sc.setJobDescription(s"aq $q plan")
        val df = reg(q)(spark, dataDir)
        df.queryExecution.executedPlan
        sc.setJobDescription(null)
        q -> df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum
      }.toMap
    record("queries") = queries
    record("cold_ms") = cold
    record("warm_ms") = warm.map { case (k, v) => k -> v.toSeq }
    record("plan_ms") = planMs
    record("result_dir") = path("out")
  }
}
