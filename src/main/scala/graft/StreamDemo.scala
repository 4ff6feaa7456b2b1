package graft

import java.nio.file.Files

import graft.model.{SchemaRegistry, TableId, TableMeta}
import graft.stream.{CdcStreamEngine, TableStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runnable end-to-end sample of the streaming replay path — the
  * public-API usage example: snapshot → spool files → streaming
  * replay with in-stream DDL → resume from checkpoint.
  *
  *   sbt "runMain graft.StreamDemo"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val tid = TableId("shopdb", "public", "customer")
    val registry = new SchemaRegistry
    registry.register(TableMeta(tid, StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType))), Seq("c_custkey")))

    val store = new TableStore(spark, Files.createTempDirectory("demo-store-").toString)
    store.stage(tid, Seq(
      (1L, "Alice", 10.0), (2L, "Bob", 20.0)).toDF("c_custkey", "c_name", "c_acctbal"), 0L)
    store.commit(Map(tid -> 0L))

    val spool = Files.createTempDirectory("demo-spool-").toString
    val ckpt = Files.createTempDirectory("demo-ckpt-").toString

    def spoolFile(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("lsn_start", "payload")
        .withColumn("insert_timestamp", timestamp_seconds(lit(1700000000L) + col("lsn_start")))
        .withColumn("database", lit("shopdb"))
        .withColumn("xid", col("lsn_start"))
        .withColumn("xid_timestamp", col("insert_timestamp"))
        .withColumn("source_slotname", lit("slot1"))
        .coalesce(1).write.mode("append").parquet(spool)

    val engine = CdcStreamEngine.withDdl(spark, registry, store)

    println("=== initial table ===")
    store.read(tid).orderBy("c_custkey").show()

    spoolFile(
      (1L, """{"kind":"update","schema":"public","table":"customer","columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,99.5],"oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
      (2L, """{"kind":"insert","schema":"public","table":"sql_ddl_statements","columnnames":["current_query","search_path","command_tags"],"columnvalues":["ALTER TABLE customer ADD COLUMN c_tier text","\"$user\", public","{\"ALTER TABLE\"}"]}"""),
      (3L, """{"kind":"insert","schema":"public","table":"customer","columnnames":["c_custkey","c_name","c_acctbal","c_tier"],"columnvalues":[3,"Carol",5.0,"gold"]}"""))
    val q1 = engine.start(spool, ckpt)
    q1.awaitTermination()
    println("=== after batch 1 (update + in-stream DDL + insert w/ new col) ===")
    store.read(tid).orderBy("c_custkey").show()

    spoolFile(
      (4L, """{"kind":"delete","schema":"public","table":"customer","oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}"""))
    val q2 = engine.start(spool, ckpt)
    q2.awaitTermination()
    println("=== after batch 2 (resume from checkpoint, delete) ===")
    store.read(tid).orderBy("c_custkey").show()
    println(s"manifest: ${store.manifest()}")
    spark.stop()
  }
}
