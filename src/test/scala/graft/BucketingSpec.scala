package graft

import graft.ops.Bucketing
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** The 100 TB layout claims, proven on the physical plan — not just
  * the values (the oracle covers those): a bucketed-both-sides join
  * must run with zero exchanges and zero sorts, and a partition-
  * pruned scan must only touch matching directories.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed equi-join: no exchange, no sort, one file per bucket") {
    // force SMJ (broadcast would hide the layout) and a static plan
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      // report the per-bucket file sort order to the planner — valid
      // exactly because writeBucketed guarantees ONE file per bucket
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      val left = (1L to 1000L).map(i => (i, s"l$i")).toDF("k", "lv")
      val right = (1L to 300L).map(i => (i, s"r$i")).toDF("k", "rv")
      val bl = Bucketing.writeBucketed(spark, left, "bkt_spec_left", 4, "k")
      val br = Bucketing.writeBucketed(spark, right, "bkt_spec_right", 4, "k")
      assert(bl.inputFiles.length == 4, "expected exactly one file per bucket")

      val j = bl.join(br, Seq("k"))
      assert(j.count() == 300L)
      val plan = j.queryExecution.executedPlan
      assert(plan.collect { case s: SortMergeJoinExec => s }.nonEmpty,
        s"expected SMJ:\n$plan")
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.collect { case s: SortExec => s }.isEmpty,
        s"single sorted file per bucket must not re-sort:\n$plan")
    }
  }

  test("partitioned staging read prunes to the matching directory") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_pp_spec"
      val df = Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30), (4L, "c", 40))
        .toDF("id", "part", "v")
      val back = Bucketing.writePartitioned(spark, df, dir, "part")
      val pruned = back.filter(col("part") === "a")
      assert(pruned.agg(sum("v")).as[Long].collect()(0) == 40L)
      val scan = pruned.queryExecution.executedPlan
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail("no file scan in plan"))
      assert(scan.partitionFilters.nonEmpty, "filter not pushed to partitioning")
      val chosen = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .flatMap(_.files.map(_.getPath.toString))
      assert(chosen.nonEmpty && chosen.forall(_.contains("part=a")),
        s"scan selected non-matching partitions: ${chosen.mkString(", ")}")
    }
  }

  test("compact rewrites a many-file dir into few files, data intact") {
    val tmp = System.getProperty("java.io.tmpdir")
    val dir = s"$tmp/graft_compact_in"; val out = s"$tmp/graft_compact_out"
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    df.repartition(40).write.mode("overwrite").parquet(dir)
    Bucketing.cleanupOnExit(dir)
    assert(spark.read.parquet(dir).inputFiles.length == 40)
    val compacted = Bucketing.compact(spark, dir, out, 1L << 20)
    assert(compacted.inputFiles.length < 10,
      s"still ${compacted.inputFiles.length} files")
    assert(compacted.orderBy("id").as[(Long, String)].collect().toSeq
      == (1L to 1000L).map(i => (i, s"v$i")))
  }

  test("zValue interleaves bits; driver and column twins agree") {
    val df = Seq((0, 0), (1, 0), (0, 1), (1, 1), (3, 5), (7, 7))
      .toDF("x", "y")
      .select(Bucketing.zValue(col("x"), col("y"), 3).as("z"))
    // interleave(x,y): x even bits, y odd bits
    assert(df.as[Long].collect().toSeq == Seq(0L, 1L, 2L, 3L,
      // x=011,y=101 → z = y2 x2 y1 x1 y0 x0 = 1 0 0 1 1 1 = 39
      39L,
      63L))
  }

  test("z-ordered box read prunes to intersecting cells only") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_zo_spec"
      val bits = 4; val prefix = 2
      // full 16×16 bucket grid, one row per (x, y) bucket pair
      val df = (for { x <- 0 until 16; y <- 0 until 16 }
        yield (x, y, x * 16 + y)).toDF("x", "y", "v")
      val back = Bucketing.writeZOrdered(spark, df, dir,
        col("x"), col("y"), bits, prefix)
      // box: x ∈ [1,2], y ∈ [9,10] → 1 x-prefix (0) × 1 y-prefix (2)
      val cells = Bucketing.zCellsForBox((1, 2), (9, 10), bits, prefix)
      assert(cells == Seq(8), s"expected single cell, got $cells")
      val boxed = back
        .filter(col("z_cell").isin(cells: _*))
        .filter(col("x").between(1, 2) && col("y").between(9, 10))
      val expected = df.filter(col("x").between(1, 2) &&
        col("y").between(9, 10))
        .select("x", "y", "v").collect().map(_.toSeq).toSet
      assert(boxed.select("x", "y", "v").collect().map(_.toSeq).toSet
        == expected)
      val scan = boxed.queryExecution.executedPlan
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail("no file scan in plan"))
      assert(scan.partitionFilters.nonEmpty, "isin not pushed to partitioning")
      val chosen = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .flatMap(_.files.map(_.getPath.toString))
      assert(chosen.nonEmpty && chosen.forall(_.contains("z_cell=8")),
        s"scan selected non-matching cells: ${chosen.mkString(", ")}")
      // a wider box still reads a strict subset of the 16 cells
      val wide = Bucketing.zCellsForBox((1, 10), (2, 13), bits, prefix)
      assert(wide.size == 12 && wide.size < 16) // 3 x-prefixes × 4 y-prefixes
    }
  }
}
