package graft.fixtures

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic wal2json v1 change log over the `customer` fixture
  * (FIXTURES.md §2/§6): spool-shaped rows whose application is also
  * expressible as plain SQL, so the DuckDB oracle can check the whole
  * decode→collapse→merge pipeline value-for-value.
  *
  * Mod-10 classes of `c_custkey` (disjoint, so phases compose simply):
  *  - %10 ∈ {1,2} : partial UPDATE  acctbal += 100       (phase 1)
  *  - %10 = 1     : partial UPDATE  mktsegment = 'HOT'   (phase 2)
  *  - %10 = 3     : PK-change UPDATE key += 5 000 000    (phase 3)
  *  - %10 = 4     : INSERT new key + 9 000 000           (phase 4)
  *  - %20 = 4     : partial UPDATE of the phase-4 insert (phase 5)
  *  - %10 = 0     : DELETE                               (phase 6)
  *  - %20 = 10    : re-INSERT of a phase-6-deleted key   (phase 7)
  *
  * Exercises every hard case from SURVEY §7.4: TOAST-partial updates,
  * multi-patch folding, PK change, insert-then-patch, delete-then-
  * insert resurrection — all within one batch.
  */
object SyntheticCdc {

  private val tsBase = 1700000000L

  private def updatePayload(names: Seq[String], values: Seq[Column], oldKey: Column): Column =
    to_json(struct(
      lit("update").as("kind"), lit("public").as("schema"), lit("customer").as("table"),
      array(names.map(lit): _*).as("columnnames"),
      array(values: _*).as("columnvalues"),
      struct(
        array(lit("c_custkey")).as("keynames"),
        array(oldKey).as("keyvalues")).as("oldkeys")))

  private def insertPayload(values: Seq[Column]): Column =
    to_json(struct(
      lit("insert").as("kind"), lit("public").as("schema"), lit("customer").as("table"),
      array(Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .map(lit): _*).as("columnnames"),
      array(values: _*).as("columnvalues")))

  private def deletePayload(oldKey: Column): Column =
    to_json(struct(
      lit("delete").as("kind"), lit("public").as("schema"), lit("customer").as("table"),
      struct(
        array(lit("c_custkey")).as("keynames"),
        array(oldKey).as("keyvalues")).as("oldkeys")))

  /** Wrap payloads as spool rows (`replication.raw_messages` shape).
    * Ordering clock = (xid_timestamp, lsn_start): one timestamp per
    * phase, lsn unique per row within the phase.
    */
  private def spoolRows(df: DataFrame, phase: Int, payload: Column, lsnKey: Column): DataFrame =
    df.select(
      timestamp_seconds(lit(tsBase + phase)).as("insert_timestamp"),
      lit("srcdb").as("database"),
      (lit(phase.toLong * 10000000L) + lsnKey).as("lsn_start"),
      (lit(phase.toLong * 100000L) + lsnKey).as("xid"),
      payload.as("payload"),
      timestamp_seconds(lit(tsBase + phase * 60L)).as("xid_timestamp"),
      lit("slot1").as("source_slotname"))

  /** Spool row as a STRUCT (same fields/types as [[spoolRows]]) — the
    * building block of the single-scan log generators below: each
    * phase becomes one `when(condition, spoolStruct(...))` element of
    * an array that is filtered and exploded, so a 7-phase log costs
    * ONE scan of the base table and one Generate instead of a 7-branch
    * union of filtered scans. The union form made every consumer's
    * plan carry 7 parquet scans; analysis + codegen of that tree
    * dominated the COLD time of the whole cdc_* batch family
    * (optimization round 15, guide §3.3: wide unions make planning
    * itself the bottleneck). Rows are identical, order immaterial
    * (every consumer folds by the (ts, lsn) clock or sorts). */
  private def spoolStruct(phase: Int, payload: Column, lsnKey: Column): Column =
    struct(
      timestamp_seconds(lit(tsBase + phase)).as("insert_timestamp"),
      lit("srcdb").as("database"),
      (lit(phase.toLong * 10000000L) + lsnKey).as("lsn_start"),
      (lit(phase.toLong * 100000L) + lsnKey).as("xid"),
      payload.as("payload"),
      timestamp_seconds(lit(tsBase + phase * 60L)).as("xid_timestamp"),
      lit("slot1").as("source_slotname"))

  /** Explode per-row phase events (null = phase doesn't touch the row)
    * into spool rows. */
  private def explodeEvents(base: DataFrame, events: Seq[Column]): DataFrame =
    base
      .select(explode(filter(array(events: _*), e => e.isNotNull)).as("__r"))
      .select(col("__r.*"))

  def customerLog(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val k = col("c_custkey")
    val ks = k.cast("string")

    val m10 = pmod(k, lit(10))
    val m20 = pmod(k, lit(20))

    explodeEvents(c, Seq(
      when(m10.isin(1, 2), spoolStruct(1, updatePayload(
        Seq("c_custkey", "c_acctbal"),
        Seq(ks, (col("c_acctbal") + 100).cast("string")), ks), k)),
      when(m10 === 1, spoolStruct(2, updatePayload(
        Seq("c_custkey", "c_mktsegment"),
        Seq(ks, lit("HOT")), ks), k)),
      when(m10 === 3, spoolStruct(3, updatePayload(
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        Seq(
          (k + 5000000L).cast("string"),
          concat(lit("Moved#"), ks),
          col("c_nationkey").cast("string"),
          col("c_acctbal").cast("string"),
          col("c_mktsegment")), ks), k)),
      when(m10 === 4, spoolStruct(4, insertPayload(Seq(
        (k + 9000000L).cast("string"),
        concat(lit("New#"), ks),
        col("c_nationkey").cast("string"),
        lit("0.0"), lit("NEWSEG"))), k)),
      when(m20 === 4, spoolStruct(5, updatePayload(
        Seq("c_custkey", "c_acctbal"),
        Seq((k + 9000000L).cast("string"), lit("50.0")),
        (k + 9000000L).cast("string")), k)),
      when(m10 === 0, spoolStruct(6, deletePayload(ks), k)),
      when(m20 === 10, spoolStruct(7, insertPayload(Seq(
        ks,
        concat(lit("Re#"), ks),
        col("c_nationkey").cast("string"),
        lit("1.0"), lit("RESEG"))), k))))
  }

  /** Deliberately hot-keyed change log (SURVEY §2.8 A4 skew): ~half
    * of ALL events patch ONE key (c_custkey = 1) — even source keys
    * emit an acctbal patch on it, odd source keys an mktsegment
    * patch — while `%10 = 7` keys patch themselves (the well-spread
    * remainder). Each event carries its OWN event time
    * (`tsBase + emitter key` seconds), so the two-phase
    * `collapseSkewResistant` fold can shard the hot key by time
    * bucket; a naive per-key `collect_list` collapse would pull every
    * hot-key event into one task.
    *
    * Deterministic final state (patches override column-wise, clock =
    * (ts, lsn) = emitter key within each class):
    * key 1's acctbal = max even key, its segment = 'SEG' + max odd
    * key — plain SQL for the oracle. */
  def hotKeyLog(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val k = col("c_custkey")
    val ks = k.cast("string")

    // spool structs with PER-EVENT timestamps (spoolStruct fixes one
    // ts per phase, which would defeat time-bucket sharding)
    // 31 s spacing: every emitter lands in its own 30 s bucket, so
    // the shard count grows with the table, not the phase count
    def ev(phase: Int, payload: Column): Column =
      struct(
        timestamp_seconds(lit(tsBase) + k * 31).as("insert_timestamp"),
        lit("srcdb").as("database"),
        (lit(phase.toLong * 10000000L) + k).as("lsn_start"),
        (lit(phase.toLong * 100000L) + k).as("xid"),
        payload.as("payload"),
        timestamp_seconds(lit(tsBase) + k * 31).as("xid_timestamp"),
        lit("slot1").as("source_slotname"))

    explodeEvents(c, Seq(
      when(pmod(k, lit(2)) === 0, ev(1, updatePayload(
        Seq("c_custkey", "c_acctbal"),
        Seq(lit("1"), k.cast("double").cast("string")), lit("1")))),
      when(pmod(k, lit(2)) === 1, ev(2, updatePayload(
        Seq("c_custkey", "c_mktsegment"),
        Seq(lit("1"), concat(lit("SEG"), ks)), lit("1")))),
      when(pmod(k, lit(10)) === 7, ev(3, updatePayload(
        Seq("c_custkey", "c_acctbal"),
        Seq(ks, (col("c_acctbal") + 1000).cast("string")), ks)))))
  }

  /** One micro-batch of a ROLLING change log over a customer-shaped
    * table `c` — the sustained-replay workload of the streaming
    * benchmark (`perfbench`'s `replay_catchup`). Batch `b` touches
    * every key:
    *  - %10 ≠ 4 : partial UPDATE  acctbal = b      (~90% of events)
    *  - %10 = 4 : INSERT   key  b·10⁷ + key        (~10%)
    *  - %10 = 4 : DELETE of batch b−1's insert     (~10%, b > 1)
    * so per-batch volume ≈ 1.1×|c| and the table size stays constant
    * across batches (each batch's inserts retire in the next) — steady
    * state, not unbounded growth, like the reference's continuous
    * replay. Ordering clock: one xid_timestamp per batch, lsn unique
    * per row (batch-prefixed so batches never collide). Insert keys
    * are `key + batch·10⁷`, so a caller that amplifies `c` into key
    * spaces shifted by ≥ 10⁹ keeps them disjoint only while
    * `max base key + nBatches·10⁷ < 10⁹`; it must check that bound. */
  def rollingLogOf(c: DataFrame, batch: Int): DataFrame = {
    val k = col("c_custkey")
    val ks = k.cast("string")
    val b = batch.toLong

    def ev(sub: Int, payload: Column): Column =
      struct(
        timestamp_seconds(lit(tsBase + b * 60)).as("insert_timestamp"),
        lit("srcdb").as("database"),
        (lit(b * 100000000L + sub.toLong * 10000000L) + k).as("lsn_start"),
        (lit(b * 1000000L) + k).as("xid"),
        payload.as("payload"),
        timestamp_seconds(lit(tsBase + b * 60)).as("xid_timestamp"),
        lit("slot1").as("source_slotname"))

    val updates =
      when(pmod(k, lit(10)) =!= 4, ev(1, updatePayload(
        Seq("c_custkey", "c_acctbal"),
        Seq(ks, lit(b.toDouble).cast("string")), ks)))
    val inserts =
      when(pmod(k, lit(10)) === 4, ev(2, insertPayload(Seq(
        (k + b * 10000000L).cast("string"),
        concat(lit(s"B$batch#"), ks),
        col("c_nationkey").cast("string"),
        lit("0.0"), lit("NEWSEG")))))
    val deletes =
      if (batch <= 1) None
      else Some(
        when(pmod(k, lit(10)) === 4, ev(3,
          deletePayload((k + (b - 1) * 10000000L).cast("string")))))
    explodeEvents(c, Seq(updates, inserts) ++ deletes)
  }

  /** Composite-key change log over a lineitem-shaped target
    * (PK = l_orderkey, l_linenumber — the fixture's raw table has
    * duplicate pairs, so callers pass a key-unique projection).
    * Mod-10 classes of l_orderkey:
    *  - %10 = 1 : partial UPDATE  l_quantity += 5      (phase 1)
    *  - %10 = 0 : DELETE of line 1 only                (phase 2)
    */
  def lineitemLog(li: DataFrame): DataFrame = {
    val ok = col("l_orderkey")
    val oks = ok.cast("string")
    val lns = col("l_linenumber").cast("string")

    def payload(kind: String, names: Seq[String], values: Seq[Column],
                withOld: Boolean): Column = {
      val base = Seq(
        lit(kind).as("kind"), lit("public").as("schema"), lit("lineitem").as("table"))
      val cols =
        (if (names.nonEmpty)
          Seq(array(names.map(lit): _*).as("columnnames"),
            array(values: _*).as("columnvalues"))
        else Seq.empty) ++
        (if (withOld)
          Seq(struct(
            array(lit("l_orderkey"), lit("l_linenumber")).as("keynames"),
            array(oks, lns).as("keyvalues")).as("oldkeys"))
        else Seq.empty)
      to_json(struct(base ++ cols: _*))
    }

    val lsnKey = ok * 10 + col("l_linenumber")
    explodeEvents(li, Seq(
      when(pmod(ok, lit(10)) === 1, spoolStruct(1,
        payload("update",
          Seq("l_orderkey", "l_linenumber", "l_quantity"),
          Seq(oks, lns, (col("l_quantity") + 5).cast("string")),
          withOld = true), lsnKey)),
      when(pmod(ok, lit(10)) === 0 && col("l_linenumber") === 1,
        spoolStruct(2,
          payload("delete", Seq.empty, Seq.empty, withOld = true), lsnKey))))
  }
}
