package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every workload reads only what this writes, in
  * the TPC-H star layout the program's builders expect, so a change to the
  * program's own fixtures cannot move a workload. Each table is drawn from
  * its own `Random` streams: dimensions on the driver, orders and their
  * line items in a fixed number of chunks (one stream each), so the same
  * seed gives the same files whatever the session's parallelism. */
object DataGen {

  final case class Scale(customers: Int, suppliers: Int, parts: Int, orders: Int)

  /** TPC-H's cardinalities at scale factor `sf` (sf 0.1: 150k orders and
    * about 600k line items). */
  def tpch(sf: Double): Scale = Scale(customers = (150000 * sf).toInt,
    suppliers = (10000 * sf).toInt, parts = (200000 * sf).toInt,
    orders = (1500000 * sf).toInt)

  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Brands: Seq[String] = (1 to 10).map(i => s"Brand#$i")
  val Years: Seq[Int] = 1992 to 1998
  /** Order and line-item chunks: fixed, so the rows do not depend on cores. */
  val Chunks = 16

  private def rng(seed: Long, table: String) = new Random(seed * 1000003L + table.hashCode)

  private def write(spark: SparkSession, dir: String, name: String,
                    schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def cents(r: Random, lo: Int, hi: Int): Double =
    (lo * 100 + r.nextInt((hi - lo) * 100)) / 100.0

  private val Day0 = java.time.LocalDate.of(1992, 1, 1)
  private val Days = java.time.temporal.ChronoUnit.DAYS.between(Day0,
    java.time.LocalDate.of(1998, 8, 2)).toInt
  private def ts(day: Int) = Timestamp.valueOf(Day0.plusDays(day).atStartOfDay())

  /** One chunk of orders, each with its line items. */
  private def orderChunk(seed: Long, sc: Scale, c: Int): Seq[(Row, Seq[Row])] = {
    val r = new Random(seed * 1000003L + 7919L * (c + 1))
    (c * sc.orders / Chunks until (c + 1) * sc.orders / Chunks).map { o =>
      val day = r.nextInt(Days - 130)
      val order = Row(o.toLong, r.nextInt(sc.customers).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), cents(r, 1000, 400000), ts(day),
        Priorities(r.nextInt(Priorities.size)))
      val items = (1 to 1 + r.nextInt(7)).map { ln =>
        Row(o.toLong, r.nextInt(sc.parts).toLong, r.nextInt(sc.suppliers).toLong,
          ln, (1 + r.nextInt(50)).toDouble, cents(r, 900, 100000),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          ts(day + 1 + r.nextInt(120)))
      }
      (order, items)
    }
  }

  /** The TPC-H star (region .. lineitem) under `dir`. */
  def star(spark: SparkSession, dir: String, seed: Long, sc: Scale): Unit = {
    write(spark, dir, "region", StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    write(spark, dir, "nation", StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, f"NATION$i%02d", i % 5)))
    val rc = rng(seed, "customer")
    write(spark, dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until sc.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        rc.nextInt(25), cents(rc, -999, 9999), Segments(rc.nextInt(Segments.size)))))
    val rs = rng(seed, "supplier")
    write(spark, dir, "supplier", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until sc.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rs.nextInt(25), cents(rs, -999, 9999))))
    val rp = rng(seed, "part")
    write(spark, dir, "part", StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until sc.parts).map(i => Row(i.toLong, s"part $i",
        Brands(rp.nextInt(Brands.size)), Types(rp.nextInt(Types.size)),
        1 + rp.nextInt(50), cents(rp, 900, 2000))))
    val chunks = spark.sparkContext.parallelize(0 until Chunks, Chunks)
    spark.createDataFrame(chunks.flatMap(c => orderChunk(seed, sc, c).map(_._1)),
      StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.createDataFrame(chunks.flatMap(c => orderChunk(seed, sc, c).flatMap(_._2)),
      StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }
}
