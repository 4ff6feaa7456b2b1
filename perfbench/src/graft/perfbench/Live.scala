package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import graft.apply.ApplyEngine
import graft.ddl.DdlInterpreter
import graft.decode.Wal2Json
import graft.model.{ChangeRecord, SchemaRegistry, TableId}
import graft.snapshot.Snapshot
import graft.sources.SpoolSource
import graft.stream.{CdcStreamEngine, TableStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The live phase of the traced `replay_catchup` run: an open-loop
  * generator appends jsonl spool files on a fixed schedule while
  * `CdcStreamEngine.startSpool` replays them on back-to-back triggers
  * and one BI client reads the committed store in a closed loop. Its
  * figures are per-layer only: with 5–7 s triggers a 30 s window holds
  * about five, too few for a gated end-to-end number.
  *
  * The generator's rate, 1 000 changes/s (five files a second), is
  * about a fifth of the catch-up drain rate: 1 500/s levelled off on a
  * quiet host but grew when the host was busy (the measured steps are
  * in the README). `ddlEvery` keeps a trigger to at most one DDL:
  * DDL-bearing triggers cost the most.
  *
  * Two source databases feed the spool through the slot restriction:
  * `db1` holds customer and orders, `db2` holds lineitem (composite
  * PK); all three are PK-bucketed by `Snapshot.basebackup`. Updates
  * are sparse and Zipf-skewed, orders also get inserts and deletes,
  * every file carries one stale-slot poison row that must be dropped,
  * and an `ALTER TABLE customer ADD COLUMN` passes through
  * `DdlInterpreter` every `ddlEvery` changes. */
object Live {
  val nCustomers = 1500
  val nOrders = 15000
  val nLines = 50000
  val buckets = 4
  val periodMs = 200
  val changesPerFile = 200
  val ddlEvery = 12000
  val warmupMs = 1000
  val zipfExponent = 1.1
  /** Length of the generator's schedule after its warm-up, seconds. */
  val windowSeconds = 30

  val db1 = "db1"
  val db2 = "db2"
  val slots = Map(db1 -> "slot_db1", db2 -> "slot_db2")
  val customer = TableId(db1, "public", "customer")
  val orders = TableId(db1, "public", "orders")
  val lineitem = TableId(db2, "public", "lineitem")

  /** Inverse-CDF sampler over ranks 0..n-1 with P(rank) ∝ 1/(rank+1)^s. */
  final class Zipf(n: Int, s: Double, r: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / math.pow(i, s)).scanLeft(0.0)(_ + _).tail.toArray
      w.map(_ / w.last)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  type Rec = (Long, String, Long, Long, String, Long, String)

  /** The generator's own model of the three tables and the change
    * stream it emits. Single-threaded: only the generator touches it. */
  final class Generator(seed: Long) {
    val cust = mutable.LinkedHashMap.empty[Long, Array[Any]]
    val ord = mutable.LinkedHashMap.empty[Long, Array[Any]]
    val li = mutable.LinkedHashMap.empty[(Long, Int), Array[Any]]
    Data.customers(nCustomers, seed).foreach(a => cust(a(0).asInstanceOf[Long]) = a)
    Data.orders(nOrders, nCustomers, seed).foreach(a => ord(a(0).asInstanceOf[Long]) = a)
    Data.lineitems(nLines, nOrders, seed)
      .foreach(a => li((a(0).asInstanceOf[Long], a(1).asInstanceOf[Int])) = a)
    val extraColumns = mutable.ArrayBuffer.empty[String]

    private val r = new scala.util.Random(seed * 31 + 7)
    private val custKeys = r.shuffle(cust.keys.toIndexedSeq)
    private val ordKeys = r.shuffle(ord.keys.toIndexedSeq)
    private val liKeys = r.shuffle(li.keys.toIndexedSeq)
    private val custZ = new Zipf(custKeys.size, zipfExponent, r)
    private val ordZ = new Zipf(ordKeys.size, zipfExponent, r)
    private val liZ = new Zipf(liKeys.size, zipfExponent, r)
    private val inserted = mutable.ArrayBuffer.empty[Long]
    private var nextOrder = nOrders + 1L
    private var lsn = 1000L
    var changes = 0L
    var ddlEvents = 0

    private def q(s: String) = "\"" + s + "\""
    private def arr(xs: Seq[String]) = xs.map(q).mkString("[", ",", "]")
    private def payload(kind: String, table: String, names: Seq[String],
                        values: Seq[String], keyNames: Seq[String], keyValues: Seq[String]) = {
      val body = Seq(s""""kind":"$kind","schema":"public","table":"$table"""") ++
        (if (names.nonEmpty) Seq(s""""columnnames":${arr(names)},"columnvalues":${arr(values)}""")
         else Nil) ++
        (if (keyNames.nonEmpty)
           Seq(s""""oldkeys":{"keynames":${arr(keyNames)},"keyvalues":${arr(keyValues)}}""")
         else Nil)
      body.mkString("{", ",", "}")
    }

    /** The records of one spool file, stamped with its scheduled time. */
    def file(schedMs: Long): Seq[Rec] = {
      val ts = schedMs * 1000L
      val out = mutable.ArrayBuffer.empty[Rec]
      def emit(db: String, p: String, slot: String): Unit = {
        lsn += 1
        out += ((ts, db, lsn, lsn, p, ts, slot))
      }
      if (changes / ddlEvery != (changes + changesPerFile) / ddlEvery) {
        ddlEvents += 1
        val name = s"extra_$ddlEvents"
        val ddl = s"ALTER TABLE customer ADD COLUMN $name integer"
        emit(db1, payload("insert", "sql_ddl_statements",
          Seq("current_query", "search_path", "command_tags"),
          Seq(ddl, "\\\"$user\\\", public", "{\\\"ALTER TABLE\\\"}"), Nil, Nil), slots(db1))
        extraColumns += name
        cust.keys.foreach(k => cust(k) = cust(k) :+ null)
      }
      (0 until changesPerFile).foreach { _ =>
        val u = r.nextDouble()
        if (u < 0.2) {
          val k = custKeys(custZ.next())
          val cents = r.nextInt(1099999).toLong - 99999L
          cust(k)(3) = Data.money(cents)
          emit(db1, payload("update", "customer", Seq("c_custkey", "c_acctbal"),
            Seq(k.toString, Data.text(cents)), Seq("c_custkey"), Seq(k.toString)), slots(db1))
        } else if (u < 0.6) {
          val v = r.nextDouble()
          if (v < 0.05) {
            val k = nextOrder; nextOrder += 1
            val cents = 100000L + r.nextInt(50000000)
            val row = Array[Any](k, (1 + r.nextInt(nCustomers)).toLong, "O",
              Data.money(cents), Data.priorities(r.nextInt(5)))
            ord(k) = row
            inserted += k
            emit(db1, payload("insert", "orders", Data.ordersSchema.fieldNames.toSeq,
              Seq(k.toString, row(1).toString, "O", Data.text(cents), row(4).toString),
              Nil, Nil), slots(db1))
          } else if (v < 0.10 && inserted.nonEmpty) {
            val k = inserted.remove(r.nextInt(inserted.size))
            ord.remove(k)
            emit(db1, payload("delete", "orders", Nil, Nil,
              Seq("o_orderkey"), Seq(k.toString)), slots(db1))
          } else {
            val k = ordKeys(ordZ.next())
            val cents = 100000L + r.nextInt(50000000)
            ord(k)(3) = Data.money(cents)
            emit(db1, payload("update", "orders", Seq("o_orderkey", "o_totalprice"),
              Seq(k.toString, Data.text(cents)), Seq("o_orderkey"), Seq(k.toString)), slots(db1))
          }
        } else {
          val (ok, ln) = liKeys(liZ.next())
          val qty = 1 + r.nextInt(50)
          li((ok, ln))(2) = qty.toDouble
          emit(db2, payload("update", "lineitem",
            Seq("l_orderkey", "l_linenumber", "l_quantity"),
            Seq(ok.toString, ln.toString, qty.toString),
            Seq("l_orderkey", "l_linenumber"), Seq(ok.toString, ln.toString)), slots(db2))
        }
        changes += 1
      }
      // stale-slot poison: sorts after the file's legit changes, so a
      // leak through the slot restriction would win the collapse
      val pk = custKeys(custZ.next())
      emit(db1, payload("update", "customer", Seq("c_custkey", "c_acctbal"),
        Seq(pk.toString, "-999.0"), Seq("c_custkey"), Seq(pk.toString)), "stale_slot")
      out.toSeq
    }
  }

  final case class BiSample(query: String, startMs: Double, totalMs: Double,
                            readMs: Double, planMs: Double, ok: Boolean)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val gen = new Generator(seed)
    val src = Map(
      customer -> path("src/customer"), orders -> path("src/orders"),
      lineitem -> path("src/lineitem"))
    trace.span("setup.generate") {
      Data.write(spark, gen.cust.values.toSeq, Data.customerSchema, src(customer))
      Data.write(spark, gen.ord.values.toSeq, Data.ordersSchema, src(orders))
      Data.write(spark, gen.li.values.toSeq, Data.lineitemSchema, src(lineitem))
    }
    val pks = Map(customer -> Seq("c_custkey"), orders -> Seq("o_orderkey"),
      lineitem -> Seq("l_orderkey", "l_linenumber"))
    val root = path("store")
    val registry = new SchemaRegistry
    val store = new TableStore(spark, root)
    trace.span("snapshot.basebackup") {
      Snapshot.basebackup(spark,
        src.toSeq.map { case (t, p) => Snapshot.TableSpec(t, pks(t), p) },
        registry, store, root, startLsn = 0L, buckets = Some(buckets))
    }

    val spool = path("spool")
    val staging = path("spool_staging")
    Files.createDirectories(Paths.get(spool))
    // the DDL barrier's handler, timed: DdlInterpreter.execute is the
    // program's own interpreter, wired exactly as CdcStreamEngine.withDdl does
    var engine: CdcStreamEngine = null
    val interp = new DdlInterpreter(spark, registry, store,
      onRenameData = (id, from, to) => engine.renameTableData(id, from, to),
      onTruncateData = id => engine.truncateTableData(id),
      onRenameTable = (o, n) => engine.renameTableEntry(o, n))
    val ddlMs = mutable.ArrayBuffer.empty[Double]
    engine = new CdcStreamEngine(spark, registry, store,
      ddlHandler = ev => ddlMs += timeMs(trace.span("ddl.execute")(interp.execute(ev)))._2,
      slotByDb = slots)

    val query = engine.startSpool(spool, path("ckpt"),
      trigger = Trigger.ProcessingTime(0L), maxFilesPerTrigger = 100000)

    // ---- BI client: closed loop over four shapes on its own session ----
    @volatile var generating = true
    val bi = mutable.ArrayBuffer.empty[BiSample]
    val biSpark = spark.newSession()
    val biStore = new TableStore(biSpark, root)
    val biRand = new scala.util.Random(seed * 31 + 11)
    val biThread = new Thread(() => {
      val shapes = Seq("bi_lookup", "bi_segment_agg", "bi_nation_revenue", "bi_lineitem_scan")
      var i = 0
      while (generating) {
        val shape = shapes(i % shapes.size); i += 1
        biSpark.sparkContext.setJobDescription(s"bi $shape")
        bi += biQuery(biSpark, biStore, shape, biRand, trace)
      }
    }, "perfbench-bi")

    def committed: Int = trace.triggerRecords.flatMap(t => Option(t.endOffset))
      .map(_.trim.toInt).maxOption.getOrElse(0)
    def awaitCommitted(n: Int, timeoutMs: Double): Unit = {
      val deadline = trace.nowMs + timeoutMs
      while (committed < n && trace.nowMs < deadline && query.exception.isEmpty)
        Thread.sleep(20)
      query.exception.foreach(throw _)
    }
    def put(i: Int, recs: Seq[Rec]): Unit = {
      val name = f"$i%08d.jsonl"
      SpoolSource.append(staging, name, recs)
      Files.move(Paths.get(staging, name), Paths.get(spool, name),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // warm-up file: the stream's first (cold) trigger runs before the schedule
    put(0, gen.file(trace.nowMs.toLong))
    awaitCommitted(1, 60000)

    // ---- generator: one file per period, stamped with its schedule ----
    val nFiles = (seconds * 1000 + warmupMs) / periodMs
    val sched = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[Double]
    val genStart = (trace.nowMs + 200).toLong
    biThread.start()
    try {
      (1 to nFiles).foreach { i =>
        val at = genStart + i.toLong * periodMs
        val recs = gen.file(at)
        val wait = at - trace.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        put(i, recs)
        sched += at.toDouble
        written += trace.nowMs
        if (query.exception.isDefined) throw query.exception.get
      }
    } finally {
      record("gen_stop_ms") = trace.nowMs
      generating = false
      biThread.join()
    }
    // drain: wait until a trigger has committed the last file
    awaitCommitted(nFiles + 1, 60000)
    query.stop()
    check("live.drained", committed > nFiles, s"committed $committed of ${nFiles + 1} files")
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    record("files") = nFiles
    record("rate_changes_per_s") = changesPerFile * 1000.0 / periodMs
    record("first_file") = 1
    record("period_ms") = periodMs
    record("warmup_ms") = warmupMs
    record("schedule_ms") = sched.toSeq
    record("written_ms") = written.toSeq
    record("changes") = gen.changes
    record("input_bytes") = Fs.dirBytes(Paths.get(spool))
    record("ddl_events") = gen.ddlEvents
    record("ddl_execute_ms") = ddlMs.toSeq
    record("bi") = bi.toSeq.map(b => Map("query" -> b.query, "start" -> b.startMs,
      "total_ms" -> b.totalMs, "read_ms" -> b.readMs, "plan_ms" -> b.planMs, "ok" -> b.ok))
    val trig = trace.triggerRecords.filter(_.inputRows > 0)
    attempted = trig.size.toLong + bi.size
    failed = bi.count(!_.ok).toLong

    val ok = trace.span("check") { checkModel(ctx, store, gen) }
    if (!ok) failed += trig.size
    if (trace.jobsEnabled) probe(ctx, spool, registry, store)
  }

  def biQuery(spark: SparkSession, store: TableStore, shape: String,
              r: scala.util.Random, trace: Trace): BiSample = {
    val start = trace.nowMs
    try {
      var readMs = 0.0
      def read(t: TableId): DataFrame = {
        val t0 = System.nanoTime()
        val df = trace.span("bi.store_read")(store.read(t))
        readMs += (System.nanoTime() - t0) / 1e6
        df
      }
      val (df, check): (DataFrame, Array[Row] => Boolean) = shape match {
        case "bi_lookup" =>
          val k = 1L + r.nextInt(nOrders)
          (read(orders).filter(col("o_orderkey") === k),
            rows => rows.length == 1 && rows(0).getLong(0) == k)
        case "bi_segment_agg" =>
          (read(customer).groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n"), sum("c_acctbal").as("bal")).orderBy("c_mktsegment"),
            rows => rows.map(_.getLong(1)).sum == nCustomers)
        case "bi_nation_revenue" =>
          val l = read(lineitem); val o = read(orders); val c = read(customer)
          (l.join(o, l("l_orderkey") === o("o_orderkey"))
            .join(c, o("o_custkey") === c("c_custkey"))
            .groupBy("c_nationkey")
            .agg(count(lit(1)).as("n"),
              sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
            .orderBy("c_nationkey"),
            rows => rows.map(_.getLong(1)).sum == nLines && rows.length <= 25)
        case "bi_lineitem_scan" =>
          (read(lineitem).groupBy("l_returnflag", "l_linestatus")
            .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"),
              sum("l_extendedprice").as("price"), avg("l_discount").as("disc"))
            .orderBy("l_returnflag", "l_linestatus"),
            rows => rows.map(_.getLong(2)).sum == nLines)
      }
      val p0 = System.nanoTime()
      trace.span("bi.plan")(df.queryExecution.executedPlan)
      val planMs = (System.nanoTime() - p0) / 1e6
      val rows = trace.span("bi.execute")(df.collect())
      BiSample(shape, start, trace.nowMs - start, readMs, planMs, check(rows))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $shape failed: $e")
        BiSample(shape, start, trace.nowMs - start, 0.0, 0.0, ok = false)
    }
  }

  /** The drained store must equal the generator's model: same rows,
    * the DDL-added columns (null), and no poison values. */
  def checkModel(ctx: Ctx, store: TableStore, gen: Generator): Boolean = {
    def same(t: TableId, expectCols: Seq[String], model: Iterable[Array[Any]]): Boolean = {
      val df = store.read(t)
      val colsOk = ctx.check(s"live.columns.${t.table}", df.columns.toSeq == expectCols,
        s"${df.columns.mkString(",")} vs ${expectCols.mkString(",")}")
      val actual = df.select(expectCols.map(col): _*).collect().map(_.toSeq.toVector).toSet
      val expected = model.map(_.toVector).toSet
      val diff = (actual -- expected).size + (expected -- actual).size
      ctx.check(s"live.rows.${t.table}", diff == 0 && actual.size == model.size,
        s"$diff differing rows, ${actual.size} vs ${model.size}") && colsOk
    }
    Seq(
      same(customer, Data.customerSchema.fieldNames.toSeq ++ gen.extraColumns, gen.cust.values),
      same(orders, Data.ordersSchema.fieldNames.toSeq, gen.ord.values),
      same(lineitem, Data.lineitemSchema.fieldNames.toSeq, gen.li.values)
    ).forall(identity)
  }

  /** Force each replay layer, one at a time, on the input of one real
    * trigger (the median-sized one), read back through the jsonl source. */
  def probe(ctx: Ctx, spool: String, registry: SchemaRegistry, store: TableStore): Unit = {
    import ctx._
    val trig = trace.triggerRecords.filter(_.inputRows > 0)
      .map(t => (Option(t.startOffset).map(_.trim.toInt).getOrElse(0), t.endOffset.trim.toInt))
      .sortBy { case (s, e) => e - s }
    if (trig.isEmpty) return
    val (from, to) = trig(trig.size / 2)
    val dir = path("probe_spool")
    Files.createDirectories(Paths.get(dir))
    (from until to).foreach { i =>
      val name = f"$i%08d.jsonl"
      Files.copy(Paths.get(spool, name), Paths.get(dir, name))
    }
    val input = spark.read.format(SpoolSource.FORMAT).option("path", dir).load()
      .select(ChangeRecord.schema.fieldNames.toSeq.map(col): _*)
      .filter(graft.functions.Routing.dbSlotRestriction(slots, col("database"),
        col("source_slotname")))
      .cache()
    val n = input.count().toDouble
    val parsed = Wal2Json.parse(input).cache()
    val (_, parseMs) = timeMs(parsed.count())
    var eventsMs, collapseMs, mergeMs, events, keys, targetRows = 0.0
    Seq(customer, orders, lineitem).foreach { tid =>
      val meta = registry(tid)
      val ev = Wal2Json.decodeEvents(parsed, meta).cache()
      val (ne, eMs) = timeMs(ev.count())
      eventsMs += eMs; events += ne
      val c = ApplyEngine.collapse(ev).cache()
      val (k, cMs) = timeMs(c.count())
      collapseMs += cMs; keys += k
      val target = store.read(tid).cache()
      targetRows += target.count()
      mergeMs += timeMs(ApplyEngine.merge(target, c, meta)
        .write.format("noop").mode("overwrite").save())._2
      Seq(ev, c, target).foreach(_.unpersist())
    }
    Seq(parsed, input).foreach(_.unpersist())
    record("probe") = Map("changes" -> n, "parse_ms" -> parseMs, "events_ms" -> eventsMs,
      "collapse_ms" -> collapseMs, "merge_ms" -> mergeMs, "events" -> events,
      "keys" -> keys, "target_rows" -> targetRows)
  }
}
