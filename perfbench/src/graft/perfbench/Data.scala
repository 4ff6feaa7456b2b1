package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped base tables, generated on the driver so the
  * live workload's generator can keep an exact model of every row.
  * The same seed gives the same rows; row counts and key sets do not
  * depend on the seed, so work per run is the same for every seed. */
object Data {
  val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType)))

  /** Cents as a double: the value castFromText produces for `text(c)`. */
  def money(cents: Long): Double = cents / 100.0
  def text(cents: Long): String = java.math.BigDecimal.valueOf(cents, 2).toPlainString

  def customers(n: Int, seed: Long): IndexedSeq[Array[Any]] = {
    val r = new scala.util.Random(seed * 31 + 1)
    (1 to n).map { k =>
      Array[Any](k.toLong, f"Customer#$k%09d", r.nextInt(25),
        money(r.nextInt(1099999).toLong - 99999L), segments(r.nextInt(5)))
    }
  }

  def orders(n: Int, nCust: Int, seed: Long): IndexedSeq[Array[Any]] = {
    val r = new scala.util.Random(seed * 31 + 2)
    (1 to n).map { k =>
      Array[Any](k.toLong, (1 + r.nextInt(nCust)).toLong,
        if (r.nextBoolean()) "O" else "F",
        money(100000L + r.nextInt(50000000)), priorities(r.nextInt(5)))
    }
  }

  /** 1..7 lines per order over orders 1..nOrders, `nLines` rows in
    * total; fails if the orders run out first. */
  def lineitems(nLines: Int, nOrders: Int, seed: Long): IndexedSeq[Array[Any]] = {
    val r = new scala.util.Random(seed * 31 + 3)
    val out = mutable.ArrayBuffer.empty[Array[Any]]
    var order = 1L
    while (out.size < nLines) {
      require(order <= nOrders, s"$nOrders orders cannot hold $nLines lines")
      val lines = 1 + r.nextInt(7)
      var ln = 1
      while (ln <= lines && out.size < nLines) {
        out += Array[Any](order, ln, (1 + r.nextInt(50)).toDouble,
          money(90000L + r.nextInt(10000000)), r.nextInt(11) / 100.0,
          if (r.nextInt(4) == 0) "R" else if (r.nextBoolean()) "A" else "N",
          if (r.nextBoolean()) "O" else "F")
        ln += 1
      }
      order += 1
    }
    out.toIndexedSeq
  }

  def write(spark: SparkSession, rows: Seq[Array[Any]], schema: StructType, path: String): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(a => Row.fromSeq(a.toSeq)), 4), schema)
      .write.mode("overwrite").parquet(path)
}
