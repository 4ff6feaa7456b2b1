package graft.perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import graft.apply.ApplyEngine
import graft.decode.Wal2Json
import graft.fixtures.SyntheticCdc
import graft.model.{ChangeRecord, SchemaRegistry, TableId}
import graft.snapshot.Snapshot
import graft.stream.{CdcStreamEngine, TableStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** `replay_catchup`: a backlog of pre-written parquet spool files
  * drained by `CdcStreamEngine.start` one file per trigger, with
  * injected `post_commit` crashes, each followed by a restart on the
  * same checkpoint.
  * Two copies of a seeded customer table (two source databases) are
  * loaded by `Snapshot.basebackup`; every batch updates ~90% of keys,
  * inserts ~10% and deletes the previous batch's inserts
  * (`SyntheticCdc.rollingLogOf`), about 10⁴ changes per batch. */
object Catchup {
  val customerRows = 4500
  val dbs = Seq("srcdb", "srcdb2")
  val tids: Seq[TableId] = dbs.map(d => TableId(d, "public", "customer"))

  /** Batches 1..sliceLen, replayed before any crash, are the slice the
    * single-core baseline replays too. */
  val sliceLen = 4
  /** Post-commit crashes per run; `cold_s` is the median restart. */
  val crashes = 4

  /** Backlog length for a run of `seconds`: ~5000 changes/s drain rate,
    * and room for the slice and the crashes after it. */
  def batchesFor(seconds: Int): Int =
    math.max(sliceLen + 2 * crashes - 1,
      math.ceil(seconds * 5000.0 / (dbs.size * changesIn(2))).toInt)

  /** Batch ids that crash: every other batch after the slice, so each
    * restart replays the crashed batch and then commits one warm batch
    * before the next crash. */
  val crashIds: Seq[Long] = (0 until crashes).map(i => (sliceLen + 2 * i).toLong)

  /** Changes in batch `b` (1-based) of one database's log. */
  def changesIn(b: Int): Long = {
    val inserts = (1 to customerRows).count(_ % 10 == 4).toLong
    (customerRows - inserts) + inserts + (if (b > 1) inserts else 0L)
  }

  def run(ctx: Ctx, jvmStartMs: Double): Unit = {
    import ctx._
    val slice = sliceBatches > 0
    // backlog sized to drain in about `seconds` at the seed's rate; the
    // slice mode (the single-core baseline) replays only the slice
    val nBatches = if (slice) sliceBatches else batchesFor(seconds)
    val crashAt = if (slice) Seq.empty[Long] else crashIds
    val srcPath = path("src/customer")
    trace.span("setup.generate") {
      Data.write(spark, Data.customers(customerRows, seed), Data.customerSchema, srcPath)
    }

    // the traced run reports no set-up time, so it sets up once
    val nReps = if (slice || trace.jobsEnabled) 1 else Ctx.setupReps
    val reps = (0 until nReps).map { r =>
      val root = path(s"store$r")
      val registry = new SchemaRegistry
      val store = new TableStore(spark, root)
      val (_, repMs) = timeMs(trace.span("setup.rep") {
        trace.span("snapshot.basebackup") {
          Snapshot.basebackup(spark,
            tids.map(t => Snapshot.TableSpec(t, Seq("c_custkey"), srcPath)),
            registry, store, root, startLsn = 0L)
        }
        trace.span("setup.spool") { writeSpool(spark, path(s"spool$r"), srcPath, nBatches) }
      })
      (root, registry, store, path(s"spool$r"), repMs)
    }
    val (root, registry, store, spool, _) = reps.last
    val repMs = reps.map(_._5)
    val bbMs = trace.durations("snapshot.basebackup")
    record("setup_rep_ms") = repMs
    record("basebackup_ms") = bbMs
    record("snapshot_rows") = tids.size.toLong * customerRows
    record("snapshot_bytes") = Fs.dirBytes(Paths.get(root))
    val changes = dbs.size * (1 to nBatches).map(changesIn).sum
    val n = math.min(sliceLen, nBatches)
    val sliceChanges = dbs.size * (2 to n).map(changesIn).sum
    record("changes") = changes
    record("crash_at") = crashAt
    record("slice_batches") = n
    record("input_bytes") = Fs.dirBytes(Paths.get(spool))

    val ckpt = path("ckpt")
    // counts DDL events the engine routes; the catch-up log has none
    val ddlSeen = new java.util.concurrent.atomic.AtomicLong
    def engine() = new CdcStreamEngine(spark, registry, store,
      ddlHandler = _ => ddlSeen.incrementAndGet())
    val t0 = trace.nowMs
    record("setup_ms") = t0 - jvmStartMs - repMs.sum + Ctx.median(repMs)
    // one engine per segment: each but the last crashes post_commit at
    // its failpoint, and the next restarts on the same checkpoint
    val restarts = mutable.ArrayBuffer.empty[(String, Double)]
    trace.span("stream.drain") {
      (0 to crashAt.size).foreach { i =>
        val e = engine()
        if (i < crashAt.size) e.failpoint = Some((crashAt(i), "post_commit"))
        val startAt = trace.nowMs
        val q = e.start(spool, ckpt, maxFilesPerTrigger = 1)
        if (i > 0) restarts += ((q.runId.toString, startAt))
        val crashed =
          try { q.awaitTermination(); false }
          catch {
            case ex: StreamingQueryException if chain(ex).exists(_.contains("failpoint")) => true
          }
        if (i < crashAt.size) check(s"catchup.crash_fired.${crashAt(i)}", crashed)
      }
    }
    val t1 = trace.nowMs
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val trig = trace.triggerRecords.filter(_.inputRows > 0)
    attempted = trig.size.toLong + crashAt.size
    record("ddl_events") = ddlSeen.get
    record("drain_ms") = t1 - t0
    record("changes_per_s") = changes / ((t1 - t0) / 1e3)
    // the slice, also replayed on one core by the traced run's
    // baseline: the warm triggers 2..sliceLen before the first crash
    // (the first trigger is cold)
    val ends = trig.sortBy(_.startMs).take(n)
      .map(t => t.startMs + t.durations.getOrElse("triggerExecution", 0L))
    record("slice_changes_per_s") =
      if (ends.size == n && n > 1) sliceChanges / ((ends.last - ends.head) / 1e3) else 0.0
    // recovery: a restarted engine's start → its first committed trigger
    // (the replay of the crashed batch, which takes the versioned-publish skip)
    val restartMs = restarts.toSeq.flatMap { case (runId, at) =>
      trig.filter(_.query == runId).sortBy(_.startMs).headOption
        .map(t => t.startMs + t.durations.getOrElse("triggerExecution", 0L) - at)
    }
    record("restart_ms") = restartMs
    check("catchup.restarts_committed", restartMs.size == crashAt.size,
      s"${restartMs.size} of ${crashAt.size} restarts committed a trigger")

    // exactly-once as an observable: the crashed-and-restarted store
    // must equal one batch replay of the whole backlog on the snapshot
    val ok = trace.span("check") {
      val input = spark.read.parquet(spool)
      val inputRows = input.count()
      val log = Wal2Json.parse(input)
      val countOk = check("catchup.backlog_changes", inputRows == changes,
        s"$inputRows rows, $changes expected")
      countOk & tids.map { tid =>
        val meta = registry(tid)
        val expected = ApplyEngine.applyChanges(spark.read.parquet(srcPath),
          Wal2Json.decodeEvents(log, meta), meta)
        val cols = meta.schema.fieldNames.toSeq.map(col)
        def rows(df: DataFrame) = df.select(cols: _*).collect().map(_.toSeq).toSeq
        val e = rows(expected)
        val a = rows(store.read(tid))
        val diff = e.diff(a).size + a.diff(e).size
        check(s"catchup.store_equals_batch_replay.${tid.database}", diff == 0,
          s"$diff differing rows")
      }.forall(identity)
    }
    if (!ok) failed = attempted
    if (trace.jobsEnabled && !slice) probe(ctx, spool, srcPath, registry)
  }

  /** Force each replay layer on one captured trigger input (batch 2:
    * updates, inserts and deletes), one layer at a time. */
  def probe(ctx: Ctx, spool: String, srcPath: String, registry: SchemaRegistry): Unit = {
    import ctx._
    val input = spark.read.parquet(Paths.get(spool, "batch_002.parquet").toString).cache()
    val n = input.count().toDouble
    val parsed = Wal2Json.parse(input).cache()
    val (_, parseMs) = timeMs(parsed.count())
    var eventsMs, collapseMs, mergeMs, keys, targetRows = 0.0
    tids.foreach { tid =>
      val meta = registry(tid)
      val ev = Wal2Json.decodeEvents(parsed, meta).cache()
      eventsMs += timeMs(ev.count())._2
      val col0 = ApplyEngine.collapse(ev).cache()
      val (k, cMs) = timeMs(col0.count())
      collapseMs += cMs; keys += k
      val target = spark.read.parquet(srcPath).cache()
      targetRows += target.count()
      mergeMs += timeMs(ApplyEngine.merge(target, col0, meta)
        .write.format("noop").mode("overwrite").save())._2
      Seq(ev, col0, target).foreach(_.unpersist())
    }
    Seq(parsed, input).foreach(_.unpersist())
    record("probe") = Map("changes" -> n, "parse_ms" -> parseMs, "events_ms" -> eventsMs,
      "collapse_ms" -> collapseMs, "merge_ms" -> mergeMs, "keys" -> keys,
      "target_rows" -> targetRows)
  }

  /** The fixture's rolling log (`SyntheticCdc.rollingLogOf`) of
    * batches 1..nBatches, once per source database, as one plan with
    * the batch number in `__b`. */
  def rollingLog(c: DataFrame, nBatches: Int): DataFrame = {
    import c.sparkSession.implicits._
    (1 to nBatches).map(b => SyntheticCdc.rollingLogOf(c, b).withColumn("__b", lit(b)))
      .reduce(_ union _)
      .drop("database").crossJoin(dbs.toDF("database"))
      .select((ChangeRecord.schema.fieldNames.toSeq :+ "__b").map(col): _*)
  }

  /** All batches in one Spark job, then one parquet file per batch with
    * strictly increasing mtimes (the file source replays in mtime order).
    * The source is cached: the log's union reads it once per branch. */
  def writeSpool(spark: SparkSession, dir: String, srcPath: String, nBatches: Int): Unit = {
    val tmp = dir + "_tmp"
    val c = spark.read.parquet(srcPath).cache()
    rollingLog(c, nBatches).repartition(col("__b")).write.partitionBy("__b").parquet(tmp)
    c.unpersist()
    Files.createDirectories(Paths.get(dir))
    (1 to nBatches).foreach { b =>
      val parts = Fs.listFiles(Paths.get(tmp, s"__b=$b")).filter(_.toString.endsWith(".parquet"))
      require(parts.size == 1, s"batch $b: expected one part file, got ${parts.size}")
      val target = Paths.get(dir, f"batch_$b%03d.parquet")
      Files.move(parts.head, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(1700000000000L + b * 60000L))
    }
    Fs.deleteTree(Paths.get(tmp))
  }

  def chain(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
}
