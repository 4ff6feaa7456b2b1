package graft

import graft.queries.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Physical-plan audit of the registered queries: the properties that
  * decide whether a plan survives a 100 TB scale-up — filters reaching
  * the parquet scan, scans pruned to referenced columns, and
  * broadcast (not shuffle) joins against small dimensions. AQE is
  * disabled so the static plan is inspectable; the properties audited
  * here are decided before adaptive re-planning anyway.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def audited[T](df: => DataFrame)(body: DataFrame => T): T =
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val d = df; d.collect(); body(d)
    }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }

  test("q3: dimension filter is pushed into the region scan") {
    audited(Relational.q3_multi_join.fn(spark, dir)) { df =>
      val region = scans(df).find(_.metadata("Location").contains("region"))
        .getOrElse(fail("no region scan"))
      val pushed = region.metadata("PushedFilters")
      assert(pushed.contains("r_name"), s"IN-list not pushed to parquet: $pushed")
    }
  }

  test("q3: joins against nation/region are broadcast, not shuffled") {
    audited(Relational.q3_multi_join.fn(spark, dir)) { df =>
      val bhj = df.queryExecution.executedPlan
        .collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.size == 2,
        s"small-dim joins not broadcast:\n${df.queryExecution.executedPlan}")
    }
  }

  test("q2: scans are pruned to the referenced columns") {
    audited(Relational.q2_join_agg.fn(spark, dir)) { df =>
      val byTable = scans(df)
        .map(s => s.metadata("Location") -> s.requiredSchema.fieldNames.toSet)
      val cust = byTable.find(_._1.contains("customer")).map(_._2)
        .getOrElse(fail("no customer scan"))
      val ord = byTable.find(_._1.contains("orders")).map(_._2)
        .getOrElse(fail("no orders scan"))
      assert(cust == Set("c_custkey", "c_mktsegment"),
        s"customer scan reads extra columns: $cust")
      assert(ord == Set("o_custkey", "o_totalprice"),
        s"orders scan reads extra columns: $ord")
    }
  }

  test("q1: aggregation pipeline stays inside whole-stage codegen") {
    audited(Relational.q1_agg.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("), s"agg pipeline fell out of codegen:\n$plan")
    }
  }

  test("q21 as-of join: no theta-join in the plan, one keyed exchange") {
    audited(Relational.q21_asof_join.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"as-of join regressed to a theta-join:\n$plan")
      val hashExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning
              .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      assert(hashExchanges.size == 1,
        s"expected exactly one keyed exchange (the union window scan):\n$plan")
    }
  }

  test("q22 range join: equi-join on (key, bucket), never a nested loop") {
    audited(Relational.q22_range_join.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"range join regressed to a nested loop:\n$plan")
      val equiJoins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(equiJoins.nonEmpty, s"no hash/merge equi-join found:\n$plan")
    }
  }

  test("q29: correlated subqueries decorrelate to hash joins, no per-row subquery") {
    audited(Relational.q29_exists.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"decorrelation regressed to a nested loop:\n$plan")
      val joins = plan.collect {
        case j: BroadcastHashJoinExec => j.joinType.toString
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.joinType.toString
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.joinType.toString
      }
      assert(joins.exists(_.contains("LeftSemi")) && joins.exists(_.contains("LeftAnti")),
        s"EXISTS/NOT EXISTS did not become semi/anti joins: $joins\n$plan")
    }
  }

  test("td_profile: one Expand bounded by the distinct-column count, partial aggregation") {
    audited(graft.queries.TrainingDataSketch.td_profile.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val expands = plan.collect {
        case e: org.apache.spark.sql.execution.ExpandExec => e.projections.size
      }
      // 3 exact-distinct columns → one Expand of ≤4 projections (3
      // distinct groups + 1 for the plain aggregates); more would mean
      // the single-pass profile started re-scanning per measure
      assert(expands.size == 1 && expands.head <= 4,
        s"profile expand shape changed: $expands\n$plan")
      // string min/max plans as SortAggregate, numeric as
      // HashAggregate — the property is the Partial mode, not the impl
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"no map-side partial aggregation:\n$plan")
    }
  }

  test("td_source_neardup: signature agg is partial before the shuffle, no nested loop") {
    audited(graft.queries.TrainingDataDedup.td_source_neardup.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty,
        s"group signatures lost map-side partial aggregation:\n$plan")
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"collection near-dup regressed to a nested loop:\n$plan")
    }
  }

  test("q31: lateral ORDER BY/LIMIT plans as a group-limit, partial before the exchange") {
    audited(Relational.q31_lateral.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val groupLimits = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w.mode
      }
      // Partial = map-side top-k before the shuffle, Final after — both
      // must be present for the per-key limit to scale
      assert(groupLimits.map(_.toString).contains("Partial") &&
        groupLimits.map(_.toString).contains("Final"),
        s"lateral limit not planned as partial+final group-limit: $groupLimits\n$plan")
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"lateral regressed to a nested loop:\n$plan")
    }
  }

  test("td_source_cap: per-source cap plans as partial+final group-limit") {
    audited(graft.queries.TrainingDataSampling.td_source_cap.fn(spark, dir)) { df =>
      val modes = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
          w.mode.toString
      }
      assert(modes.contains("Partial") && modes.contains("Final"),
        s"cap not planned as partial+final group-limit: $modes")
    }
  }

  test("countMin/hllRegisters: sketch aggregations are map-side partial") {
    // the whole point of a fixed-size sketch is that the combine
    // happens before the exchange — state per task is ≤ d·w / 2^p
    // cells no matter how many tokens the task scanned
    import org.apache.spark.sql.functions._
    val words = Tables.documents(spark, dir)
      .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("w"))
    for (mk <- Seq(() => graft.ops.Sketches.countMin(words, "w", 4, 512),
                   () => graft.ops.Sketches.hllRegisters(words, "w", 8))) {
      audited(mk()) { df =>
        val plan = df.queryExecution.executedPlan
        val partial = plan.collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.aggregateExpressions.exists(_.mode.toString == "Partial") =>
            a
        }
        assert(partial.nonEmpty, s"no map-side partial aggregation:\n$plan")
      }
    }
  }

  test("td_blocklist_scrub: only the residual branch joins, broadcast") {
    // the bypass branch (bloom says definitely-absent) must reach the
    // output with no join at all; the residual branch's anti-join
    // broadcasts the blocklist — the corpus side never shuffles
    audited(graft.queries.TrainingDataSampling.td_blocklist_scrub.fn(spark, dir)) {
      df =>
        val plan = df.queryExecution.executedPlan
        val joins = plan.collect {
          case j if j.nodeName.contains("Join") => j.nodeName
        }
        assert(joins == Seq("BroadcastHashJoin"),
          s"expected exactly one broadcast residual join, got $joins\n$plan")
    }
  }

  test("q37: data-skipping scan opens only the pruned file subset") {
    // the manifest prunes BEFORE the scan is planned — the final plan's
    // file list (not just its row count) is the evidence that a 100 TB
    // corpus would pay only the selective slice
    audited(Relational.q37_skip_scan.fn(spark, dir)) { df =>
      val staged = scans(df).filter(_.metadata("Location").contains("graft_ds_"))
      assert(staged.nonEmpty, "no staged data-skipping scan in the plan")
      val files = df.inputFiles.filter(_.contains("graft_ds_"))
      assert(files.nonEmpty && files.length < 12,
        s"expected a pruned subset of the 12 staged files, scan reads ${files.length}")
      // the exact predicate still reaches the surviving files' scan
      val pushed = staged.head.metadata("PushedFilters")
      assert(pushed.contains("o_orderdate"),
        s"exact residual filter not pushed into the pruned scan: $pushed")
    }
  }

  test("td_lang_classifier: bounded weight table broadcasts, aggs are partial") {
    // the hashing trick caps the weight table at `buckets` rows, so
    // the corpus-side score join must be broadcast (never a corpus
    // shuffle), and both the train and score aggregations must
    // combine map-side
    audited(graft.queries.TrainingDataText.td_lang_classifier.fn(spark, dir)) {
      df =>
        val plan = df.queryExecution.executedPlan
        val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
        assert(bhj.nonEmpty, s"weight join not broadcast:\n$plan")
        val partial = plan.collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
        }
        assert(partial.nonEmpty, s"no map-side partial aggregation:\n$plan")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB join-pruning story when neither bucketing nor
    // broadcast applies: a selective dimension filter is converted by
    // Spark's InjectRuntimeFilter into a bloom filter evaluated on the
    // fact scan, cutting shuffle input before the exchange. Thresholds
    // are lowered so the toy-scale fixture takes the same plan shape a
    // 1000-executor cluster would.
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions._
      val orders = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n$optimized")
      // semantics unchanged by the filter
      val expected = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    }
  }

  test("ev_funnel: cascaded step minimums share ONE exchange; step filter pushed") {
    audited(graft.queries.Events.ev_funnel.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // every min(when(...)) window agg runs over the same user_id
      // hash partitioning — a funnel of N steps must not shuffle N times
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // one exchange for the window partition + one for the final
      // distinct + the ordered output exchange; the window itself
      // contributes exactly one
      val windowPartitions = exchanges.count(
        _.outputPartitioning.toString.contains("user_id"))
      assert(windowPartitions <= 2,
        s"funnel reshuffles per step:\n$plan")
      val scan = scans(df).headOption.getOrElse(fail("no scan"))
      assert(scan.metadata("PushedFilters").contains("event_type"),
        "step-type filter not pushed to the events scan")
    }
  }

  test("logHistogram / discreteQuantilesByValue: aggregations are map-side partial") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val mks = Seq(
      () => graft.ops.Sketches.logHistogram(docs, Seq("source"),
        graft.ops.TextAnalysis.tokenCount(col("text")), 4),
      () => graft.ops.Sampling.discreteQuantilesByValue(docs, "source",
        graft.ops.TextAnalysis.tokenCount(col("text")),
        Seq("p50" -> 0.5)))
    for (mk <- mks) audited(mk()) { df =>
      val plan = df.queryExecution.executedPlan
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"no map-side partial aggregation:\n$plan")
    }
  }

  test("IncrementalAgg: maintenance touches the table twice — seed agg + pre-image join") {
    // (the registered cdc_incr_agg adds fixture scans because
    // SyntheticCdc fabricates its change log FROM the customer table;
    // auditing the op directly isolates the engine's own plan)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val meta = graft.model.TableMeta(
      graft.model.TableId("db", "public", "customer"), c.schema,
      Seq("c_custkey"))
    val collapsed = Seq(
      (Seq("1"), "patch", Map("c_acctbal" -> "5.0"), 0),
      (Seq("99991"), "row", Map("c_custkey" -> "99991",
        "c_name" -> "X", "c_nationkey" -> "3", "c_acctbal" -> "1.0",
        "c_mktsegment" -> "S"), 0))
      .toDF("key", "st", "vals", "viol")
    val acct = (r: String => org.apache.spark.sql.Column) =>
      r("c_acctbal").cast("decimal(18,6)")
    val out = graft.apply.IncrementalAgg.applyDelta(
      graft.apply.IncrementalAgg.groupState(c, "c_nationkey",
        col("c_acctbal").cast("decimal(18,6)")),
      graft.apply.IncrementalAgg.delta(c, collapsed, meta,
        "c_nationkey", acct),
      "c_nationkey")
    audited(out) { df =>
      val plan = df.queryExecution.executedPlan
      // a recompute-per-batch plan would scan the table once more
      // per batch; maintenance is exactly seed + pre-image fetch
      val customerScans = scans(df)
        .count(_.metadata("Location").contains("customer"))
      assert(customerScans == 2,
        s"expected 2 customer scans (seed agg + pre-image join), " +
          s"got $customerScans:\n$plan")
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"delta agg not map-side partial:\n$plan")
    }
  }

  test("td_semdedup: cell assignment is a narrow map — no window exchange at all") {
    audited(graft.queries.TrainingDataAnn.td_semdedup.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // the assignment stage must NOT re-shuffle the corpus nCells-wide
      // through a per-id window; the only windows anywhere in the
      // semdedup plan would be that regression, so assert zero
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }
      assert(windows.isEmpty,
        s"cell assignment regressed to a window exchange:\n$plan")
      // centroid selection is a map-side-combinable min_by aggregate
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"centroid pick not map-side partial:\n$plan")
    }
  }

  test("td_ann_ivf: the only window is the final per-query top-k") {
    audited(graft.queries.TrainingDataAnn.td_ann_ivf.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // corpus/query cell assignment is narrow (broadcast codebook
      // array, per-row sort+slice); windows over the corpus id would
      // mean the 16x assignment exchange came back
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.forall(
        _.partitionSpec.map(_.toString).exists(_.contains("query_id"))),
        s"window partitioned on something other than query_id " +
          s"(assignment exchange is back):\n$plan")
    }
  }

  test("td_ann_lsh_md5: literal planes (no plane join), keyed candidate join only") {
    audited(graft.queries.TrainingDataAnn.td_ann_lsh_md5.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // planes are plan literals: candidate generation must be the
      // (table, bucket) equi-join — never a nested loop over planes
      // or an all-pairs product
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"LSH candidates regressed to a product:\n$plan")
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.forall(
        _.partitionSpec.map(_.toString).exists(_.contains("query_id"))),
        s"window not per-query:\n$plan")
    }
  }

  test("td_chunk_dedup: chunk winners via map-side min(struct), no sorted window") {
    audited(graft.queries.TrainingDataDedup.td_chunk_dedup.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // duplicate chunks must collapse within each task before the
      // chunk-keyed exchange; a WindowExec means the corpus-wide
      // sort-shuffle of every chunk occurrence came back
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"chunk dedup regressed to a window:\n$plan")
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"winner pick not map-side partial:\n$plan")
    }
  }

  test("ev_rolling_distinct_hll: register-table fan-out, no window, map-side partial") {
    audited(graft.queries.Events.ev_rolling_distinct_hll.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // state must stay O(periods·2^p): registers aggregate map-side
      // partial, the ×windowPeriods explode runs on the register
      // table, and the merge is a plain max() agg — a WindowExec
      // anywhere means the per-period sort shape crept back
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"rolling HLL grew a window:\n$plan")
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"register agg not map-side partial:\n$plan")
    }
  }

  test("ev_attribution: as-of core is one user-keyed window, never a theta-join") {
    audited(graft.queries.Events.ev_attribution.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"attribution regressed to a theta-join:\n$plan")
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.size == 1 &&
        windows.head.partitionSpec.map(_.toString).exists(_.contains("user_id")),
        s"expected exactly one user-keyed as-of window:\n$plan")
    }
  }

  test("ev_paths: all lead columns share ONE user-keyed window; path count partial") {
    audited(graft.queries.Events.ev_paths.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.size == 1 &&
        windows.head.partitionSpec.map(_.toString).exists(_.contains("user_id")),
        s"path leads split across windows (shuffle per step):\n$plan")
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"path count not map-side partial:\n$plan")
    }
  }

  test("ev_retention: first-event lookup + offset count, no window, partial aggs") {
    audited(graft.queries.Events.ev_retention.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"retention regressed to a product:\n$plan")
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"retention grew a window:\n$plan")
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"cohort aggs not map-side partial:\n$plan")
    }
  }

  test("ev_rolling_distinct: pair collapse before the fan-out, windows absent") {
    audited(graft.queries.Events.ev_rolling_distinct.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // the ×windowPeriods explode must run on the DEDUPED (period,
      // key) pair grid, never the raw event stream: every explode in
      // the plan sits above an aggregate
      val generates = plan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(generates.nonEmpty, s"no fan-out found:\n$plan")
      assert(generates.forall(g => g.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty), s"fan-out runs on raw events, not the pair grid:\n$plan")
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"rolling distinct grew a window:\n$plan")
    }
  }

  test("ev_session_funnel: windows keyed by user or session, never re-shuffled per step") {
    audited(graft.queries.Events.ev_session_funnel.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // sessionization windows run per user; the funnel windows run
      // per derived session key (sk = user#n) — nothing else
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"sessionization window missing:\n$plan")
      assert(windows.forall(_.partitionSpec.map(_.toString)
          .exists(s => s.contains("user_id") || s.contains("sk"))),
        s"window partitioned off the user/session key:\n$plan")
      // the cascaded funnel minimums share ONE sk hash partitioning
      // and sessionization ONE user_id partitioning — the funnel must
      // not shuffle once per step
      val keyedExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      assert(keyedExchanges.size <= 3,
        s"session funnel reshuffles per step:\n$plan")
    }
  }

  test("ev_gapfill: grid explodes AFTER the bounds agg; fill reuses the key partitioning") {
    audited(graft.queries.Events.ev_gapfill.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // the slot explode must sit above an aggregate (rows ≈
      // keys×slots), not above the raw events scan (events×slots)
      val generates = plan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(generates.nonEmpty, s"no explode in gapfill plan:\n$plan")
      assert(generates.forall(g => g.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty), s"grid explode runs on raw events, not the bounds agg:\n$plan")
      // forward fill is the single window, keyed by user
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.size == 1 &&
        windows.head.partitionSpec.map(_.toString).exists(_.contains("user_id")),
        s"expected exactly one user-keyed fill window:\n$plan")
    }
  }

  test("td_dsir_select: weight table broadcasts, top-k is TakeOrdered, aggs partial") {
    audited(graft.queries.TrainingDataSampling.td_dsir_select.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // the dim-row ratio table must broadcast into the corpus-side
      // feature join — a shuffle join here re-exchanges every
      // (doc, bucket) feature row at 100 TB
      val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty, s"weight join not broadcast:\n$plan")
      // top-k must plan as per-partition heaps, never a global sort
      val takeOrdered = plan.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }
      assert(takeOrdered.nonEmpty, s"top-k is not TakeOrdered:\n$plan")
      val globalSorts = plan.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }
      assert(globalSorts.isEmpty, s"global sort in DSIR plan:\n$plan")
      // feature counts and per-doc scores combine map-side
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"feature/score aggs not map-side partial:\n$plan")
    }
  }

  test("td_ann_sq8: dim stats bounded + broadcast, top-k is a group-limit") {
    audited(graft.queries.TrainingDataAnn.td_ann_sq8.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // the per-dimension min/max must combine map-side — its state is
      // dim cells per task; a final-only agg would shuffle every
      // (row × dim) exploded cell at 100 TB
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"dim stats agg not map-side partial:\n$plan")
      // per-query top-k: partial group-limit before the exchange
      val modes = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
          w.mode.toString
      }
      assert(modes.contains("Partial") && modes.contains("Final"),
        s"SQ8 top-k not planned as partial+final group-limit: $modes\n$plan")
      // the only nested-loop join allowed is the broadcast of the tiny
      // query batch across the codes scan — never a cartesian product
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"SQ8 scoring regressed to a cartesian product:\n$plan")
    }
  }

  test("td_hard_negatives: candidates stay cell-keyed, codebook broadcasts") {
    audited(graft.queries.TrainingDataAnn.td_hard_negatives.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // the label filter must not change the candidate structure: the
      // only corpus×corpus contact is the cell equi-join; an unkeyed
      // candidate stage is the all-pairs shape that dies at 100 TB
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"hard-negative candidates regressed to a cartesian:\n$plan")
      // the one-row codebook array reaches both assignment stages as a
      // broadcast, never an exchange of the corpus against centroids
      val bnlj = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      assert(bnlj.nonEmpty, s"codebook not broadcast into assignment:\n$plan")
    }
  }

  test("td_ann_recall: ranking join is hashed, counts combine map-side") {
    audited(graft.queries.TrainingDataAnn.td_ann_recall.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // two k-rows-per-query rankings meet in an equi-join — hash or
      // sort-merge, never a nested loop over the pair space
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"recall join regressed to a cartesian:\n$plan")
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"hit counts not map-side partial:\n$plan")
    }
  }

  test("td_kmv_overlap: sketch stage is a partial group-limit over a partial distinct") {
    audited(graft.queries.TrainingDataSketch.td_kmv_overlap.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // the per-source bottom-k must keep ≤ k rows per group per map
      // task BEFORE the group exchange — without the partial
      // WindowGroupLimit, a whole source's fingerprints serialize
      // through one window task
      val modes = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
          w.mode.toString
      }
      assert(modes.contains("Partial") && modes.contains("Final"),
        s"per-source sketch not planned as partial+final group-limit: $modes\n$plan")
      // pair fan-out joins run against k-row sketches: broadcast, and
      // the duplicate-mass distinct combines map-side
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.isEmpty ||
            a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"fingerprint distinct not map-side partial:\n$plan")
    }
  }

  test("td_quality_prune_cutoff: cutoff table broadcasts, corpus never sorts") {
    audited(graft.queries.TrainingDataSampling.td_quality_prune_cutoff.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty, s"cutoff join not broadcast:\n$plan")
      // the whole point of the by-value form: score counts aggregate
      // (partial before the exchange) and only the |distinct scores|
      // table is sorted for the cumulative walk — the corpus side must
      // reach the broadcast join with NO sort below it
      val corpusSorts = bhj.head.left.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(corpusSorts.isEmpty,
        s"corpus side sorted before the cutoff join:\n$plan")
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"score counts not map-side partial:\n$plan")
    }
  }

  test("td_corpus_diff: text collapses to fingerprints BEFORE the id shuffle") {
    audited(graft.queries.TrainingDataSketch.td_corpus_diff.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      // every exchange must move (id, md5) rows, never the text column
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, s"expected a keyed join exchange:\n$plan")
      exchanges.foreach { e =>
        val cols = e.output.map(_.name)
        assert(!cols.contains("text"),
          s"diff shuffles raw text ($cols) — fingerprints must be " +
            s"computed in the narrow map:\n$plan")
      }
    }
  }

  test("ev_anomaly: per-type stats broadcast onto counts, agg is map-side partial") {
    audited(graft.queries.Events.ev_anomaly.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty,
        s"stats table not broadcast back onto the counts:\n$plan")
      val partial = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partial.nonEmpty, s"period counts not map-side partial:\n$plan")
    }
  }

  test("ev_markov: events shuffle by entity exactly once; later exchanges carry pairs only") {
    audited(graft.queries.Events.ev_markov.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // exactly one exchange sees event-grain columns (the lead
      // window's entity partitioning); everything after operates on
      // the collapsed ≤|types|² pair rows
      val eventGrain = exchanges.filter(_.output.map(_.name).contains("ts"))
      assert(eventGrain.size == 1,
        s"expected ONE entity-keyed event exchange, got " +
          s"${eventGrain.size}:\n$plan")
    }
  }

  test("td_cooccurrence: df filter broadcasts; pairs generate after the doc-keyed join") {
    audited(graft.queries.TrainingDataText.td_cooccurrence.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
      // Apriori prefilter (x2 sides) + two lift df joins
      assert(bhj.size >= 3,
        s"frequent-token/df tables not broadcast:\n$plan")
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      exchanges.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"co-occurrence shuffles raw text:\n$plan")
      }
    }
  }

  test("td_containment: no cartesian product; raw text never shuffles") {
    audited(graft.queries.TrainingDataCuration.td_containment.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val cart = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cart.isEmpty, s"containment mining degenerated to all-pairs:\n$plan")
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      exchanges.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"containment shuffles raw text (shingle sets should):\n$plan")
      }
    }
  }

  test("td_curation_funnel: benchmark shingles broadcast; no cartesian") {
    audited(graft.queries.TrainingDataCuration.td_curation_funnel.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val cart = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cart.isEmpty, s"funnel has a cartesian stage:\n$plan")
      val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty,
        s"benchmark shingle set not broadcast onto the corpus:\n$plan")
    }
  }

  test("td_ivf_balance: 1-row totals broadcast; balance agg is map-side partial") {
    audited(graft.queries.TrainingDataAnn.td_ivf_balance.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val cart = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cart.isEmpty,
        s"totals joined via cartesian instead of broadcast:\n$plan")
      val bnlj = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      assert(bnlj.nonEmpty, s"1-row total/max table not broadcast:\n$plan")
    }
  }

  test("ev_interarrival: one event-grain exchange; histogram collapses partial") {
    audited(graft.queries.Events.ev_interarrival.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // only the lag window's entity partitioning sees event-grain
      // rows (ts present); later exchanges carry histogram rows
      val eventGrain = exchanges.filter(_.output.map(_.name).contains("ts"))
      assert(eventGrain.size == 1,
        s"expected ONE entity-keyed event exchange, got ${eventGrain.size}:\n$plan")
      val partials = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partials.nonEmpty, s"histogram not map-side partial:\n$plan")
    }
  }

  test("td_vocab_richness: raw text never shuffles; word counts partial") {
    audited(graft.queries.TrainingDataText.td_vocab_richness.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"richness shuffles raw text (single words should):\n$plan")
      }
      val partials = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
      }
      assert(partials.nonEmpty, s"word counts not map-side partial:\n$plan")
    }
  }

  test("td_decontam_canonical: benchmark shingles broadcast; no cartesian") {
    audited(graft.queries.TrainingDataCuration.td_decontam_canonical
        .fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"canonical decontam has a cartesian stage:\n$plan")
      val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty,
        s"canonical benchmark shingles not broadcast:\n$plan")
    }
  }

  test("td_lsh_precision: candidate join keyed by (band, bucket), no cartesian") {
    audited(graft.queries.TrainingDataCuration.td_lsh_precision
        .fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"LSH measurement degenerated to all-pairs:\n$plan")
      // the three 1-row count frames compose via broadcast NLJ — the
      // only nested loops allowed are those 1-row joins
      val bnlj = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      assert(bnlj.size <= 2, s"unexpected nested-loop joins:\n$plan")
    }
  }

  test("td_token_fertility: one corpus aggregate, raw text never shuffles") {
    audited(graft.queries.TrainingDataText.td_token_fertility.fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      exchanges.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"fertility shuffles raw text (counts are per-row narrow):\n$plan")
      }
      val partials = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
      }
      assert(partials.nonEmpty, s"fertility aggregate not partial:\n$plan")
    }
  }

  test("winnowingFingerprints: native selection is a narrow map — zero " +
      "shuffle, zero window") {
    import org.apache.spark.sql.functions._
    audited(graft.ops.TextAnalysis.winnowingFingerprints(
        graft.Tables.documents(spark, dir), "doc_id", "text", 4, 4)) { df =>
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"fingerprint selection must not shuffle:\n$plan")
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty,
        s"fingerprint selection must not sort/window:\n$plan")
    }
  }

  test("td_embedding_drift: partial aggregation before both centroid " +
      "exchanges; the full-outer centroid join adds NO exchange") {
    audited(graft.queries.TrainingDataSketch.td_embedding_drift
        .fn(spark, dir)) { df =>
      val plan = df.queryExecution.executedPlan
      val partials = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
      }
      assert(partials.size >= 2,
        s"both centroid aggs must combine map-side:\n$plan")
      // the ragged-dims guard made the centroid join FULL OUTER, which
      // BroadcastHashJoin cannot execute — the right plan is a
      // sort-merge join that REUSES the centroid aggregates' (group,
      // dim) hash partitioning: exchanges in the whole plan stay at
      // exactly the 2 centroid aggs + the |labels|-row final agg +
      // the output sort; the join itself adds only local sorts of the
      // two tiny aggregate sides
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"centroid join should sort-merge:\n$plan")
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size <= 4,
        s"full-outer centroid join must reuse the agg partitioning " +
          s"(2 centroid aggs + final agg + output sort), got " +
          s"${exchanges.size}:\n$plan")
    }
  }

  // ── df skew guards: map-side-combinable aggregates, never
  //    count(*) OVER (PARTITION BY key) ────────────────────────────
  // A key-partitioned window has NO partial aggregation and can never
  // be skew-split: every occurrence of one boilerplate fingerprint or
  // shingle must land in ONE task BEFORE the maxDf filter runs — the
  // guard against hot keys would itself be the hot-key bottleneck at
  // 100 TB. The df count must be a groupBy (partial-aggregating
  // map-side) joined back; per-DOC windows (row_number prefix ranks)
  // are fine — doc-keyed groups are bounded by document length.

  private def windowPartKeys(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.map(_.toString)
    }

  private def assertPartialDf(df: DataFrame): Unit = {
    val partial = df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
    }
    assert(partial.nonEmpty,
      s"df guard not map-side partial:\n${df.queryExecution.executedPlan}")
  }

  test("td_dedup_best: cluster-winner pick is partial aggregates — zero window") {
    audited(graft.queries.TrainingDataDedup.td_dedup_best.fn(spark, dir)) { df =>
      assert(windowPartKeys(df).isEmpty,
        s"dedupCorpusBy winner pick regressed to a comp-keyed window:\n" +
          s"${df.queryExecution.executedPlan}")
      assertPartialDf(df)
    }
  }

  test("td_winnowing: df guard is a partial aggregate — zero window anywhere") {
    audited(graft.queries.TrainingDataDedup.td_winnowing.fn(spark, dir)) { df =>
      assert(windowPartKeys(df).isEmpty,
        s"winnowingPairs df guard regressed to a window:\n" +
          s"${df.queryExecution.executedPlan}")
      assertPartialDf(df)
    }
  }

  test("td_incremental_winnowing: probe df guard has zero window and " +
      "BROADCASTS its survivor set back") {
    audited(graft.queries.TrainingDataDedup.td_incremental_winnowing
        .fn(spark, dir)) { df =>
      assert(windowPartKeys(df).isEmpty,
        s"probePairs df guard regressed to a window:\n" +
          s"${df.queryExecution.executedPlan}")
      assertPartialDf(df)
      // the guard's join-back is an explicit broadcast() hint in
      // probePairs (the df table is bounded by the batch's distinct
      // hashes); it runs in an earlier job behind the localCheckpoint
      // boundary, so this final plan can't see it — the visible pair
      // join being broadcast plus zero windows anywhere is the
      // auditable residue here
      val bhj = df.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec => b
      }
      assert(bhj.nonEmpty,
        s"pair join not broadcast:\n${df.queryExecution.executedPlan}")
    }
  }

  test("td_winnow_index_pruned: pruned probe df guard has zero window") {
    audited(graft.queries.TrainingDataDedup.td_winnow_index_pruned
        .fn(spark, dir)) { df =>
      assert(windowPartKeys(df).isEmpty,
        s"pruned probePairs df guard regressed to a window:\n" +
          s"${df.queryExecution.executedPlan}")
    }
  }

  test("td_ngram_jaccard: every window is doc-keyed (df is a join-back)") {
    audited(graft.queries.TrainingDataDedup.td_ngram_jaccard.fn(spark, dir)) { df =>
      val parts = windowPartKeys(df)
      assert(parts.forall(_.exists(_.contains("id"))),
        s"a window partitions on a non-doc key (df window is back): " +
          s"$parts\n${df.queryExecution.executedPlan}")
      assertPartialDf(df)
    }
  }

  test("td_char_jaccard: every window is doc-keyed (df is a join-back)") {
    audited(graft.queries.TrainingDataDedup.td_char_jaccard.fn(spark, dir)) { df =>
      val parts = windowPartKeys(df)
      assert(parts.forall(_.exists(_.contains("id"))),
        s"a window partitions on a non-doc key (df window is back): " +
          s"$parts\n${df.queryExecution.executedPlan}")
      assertPartialDf(df)
    }
  }

  test("td_containment: every window is doc-keyed (df is a join-back)") {
    audited(graft.queries.TrainingDataCuration.td_containment.fn(spark, dir)) { df =>
      val parts = windowPartKeys(df)
      assert(parts.forall(_.exists(_.contains("id"))),
        s"a window partitions on a non-doc key (df window is back): " +
          s"$parts\n${df.queryExecution.executedPlan}")
      assertPartialDf(df)
    }
  }
}
