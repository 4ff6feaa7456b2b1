package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for the named queries into
  * `<outDir>/<query>_<suffix>.txt` — the per-round before/after plan
  * evidence (`plans/r15/...`). Unlike [[PlanDump]] (the standing
  * PLANS.md narrative), this is a raw snapshot tool:
  *
  *   runMain graft.PlanSnap <sfDir> <outDir> <suffix> q1,q2,...
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    // 4 threads, not the host's: partition counts match PLANS.md
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = qs(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plansnap] $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
