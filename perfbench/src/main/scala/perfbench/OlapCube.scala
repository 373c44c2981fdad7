package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.builders.Tpch
import graft.io.CubeIO
import graft.model.DataCube
import graft.query.dsl._

/** Read-only closed loop over the persisted TPC-H cube: one client issues a
  * seeded stream of `DataCube` calls (slice, dice, collapse, rollup, cube,
  * grouping sets, denormalize, window analytics, pivots) and collects each
  * answer whole. Every answer is checked against plain Spark SQL over the
  * raw parquet, which never touches the cube. Each pass also runs one of
  * the program's own cube queries (`SparkEntry.queries`). */
final class OlapCube extends Workload {
  import OlapCube.Read
  val name = "olap_cube"

  val scale = DataGen.tpch(0.01)

  private val oracleCache = mutable.Map[String, Array[Row]]()
  private var reads: IndexedSeq[Read] = IndexedSeq.empty

  def prepare(ctx: Ctx): Unit = DataGen.star(ctx.spark, ctx.dataDir, ctx.seed, scale)

  def setup(ctx: Ctx): Unit = ctx.tracer.span("Tpch.cube+warm", "builders", "compose") {
    Tpch.cube(ctx.spark, ctx.dataDir)
    Tpch.warm(ctx.spark, ctx.dataDir)
  }

  private def sq(vs: Seq[Any]): String = vs.map {
    case s: String => s"'$s'"
    case o => o.toString
  }.mkString(", ")

  private val money =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price"
  private val joins =
    """FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |JOIN region ON r_regionkey = n_regionkey""".stripMargin
  /** Raw lineitem rows with every hierarchy attribute the reads group by:
    * the oracles' one input, joined from the raw parquet and cached while
    * the warm-up fills the oracle answers. */
  private val wide = "oracle_wide"

  private def cacheWide(spark: SparkSession, dir: String): DataFrame = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
    val w = spark.sql(
      s"""SELECT l_quantity, l_extendedprice, p_partkey, p_brand, p_type,
         |       s_suppkey, r_name, n_name, c_mktsegment,
         |       CAST(l_shipdate AS DATE) AS d_date,
         |       year(l_shipdate) AS d_year, quarter(l_shipdate) AS d_quarter,
         |       month(l_shipdate) AS d_month
         |$joins""".stripMargin).cache()
    w.createOrReplaceTempView(wide)
    w
  }

  /** The read templates, each with its parameters drawn from the dimension
    * domains by the run's seed. */
  private def templates(r: scala.util.Random): IndexedSeq[Read] = {
    import DataGen._
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def two[T](xs: Seq[T]): Seq[T] = r.shuffle(xs).take(2).sortBy(_.toString)
    def sql(s: String): SparkSession => DataFrame = spark => spark.sql(s)

    IndexedSeq(
      {
        val (seg, ys) = (pick(Segments), two(Years))
        Read("q_dice_collapse", c => c.q(
          dim("part").collapse(), dim("supplier").collapse(),
          dim("order").where("c_mktsegment" -> Seq(seg)).collapse(),
          dim("date").where("d_year" -> ys)).fact.data,
          sql(s"""SELECT d_date, SUM(l_quantity) AS sum_qty, $money, COUNT(*) AS n
                 |FROM $wide WHERE c_mktsegment = '$seg' AND d_year IN (${sq(ys)})
                 |GROUP BY d_date""".stripMargin))
      },
      {
        val reg = pick(Regions)
        Read("q_rollup", c => c.q(
          dim("date").rollup("d_year", "d_quarter"), dim("part").collapse(),
          dim("supplier").where("r_name" -> Seq(reg)).collapse(),
          dim("order").collapse()).fact.data,
          sql(s"""SELECT d_year, d_quarter, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
                 |  CAST(GROUPING(d_year) + GROUPING(d_quarter) AS INT) AS level
                 |FROM $wide WHERE r_name = '$reg'
                 |GROUP BY ROLLUP(d_year, d_quarter)""".stripMargin))
      },
      {
        val y = pick(Years)
        Read("q_cube", c => c.q(
          dim("part").cubeOp("p_type"), dim("order").cubeOp("c_mktsegment"),
          dim("supplier").collapse(),
          dim("date").where("d_year" -> Seq(y)).collapse()).fact.data,
          sql(s"""SELECT p_type, c_mktsegment, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
                 |  CAST(GROUPING(p_type) + GROUPING(c_mktsegment) AS INT) AS level
                 |FROM $wide WHERE d_year = $y
                 |GROUP BY CUBE(p_type, c_mktsegment)""".stripMargin))
      },
      {
        val ts = two(Types)
        Read("aggregate", c => c.aggregate(
          by = Seq("c_mktsegment", "d_year", "r_name"),
          filters = Map("part" -> Map("p_type" -> ts))).fact.data,
          sql(s"""SELECT c_mktsegment, d_year, r_name, SUM(l_quantity) AS sum_qty,
                 |  $money, COUNT(*) AS n
                 |FROM $wide WHERE p_type IN (${sq(ts)})
                 |GROUP BY c_mktsegment, d_year, r_name""".stripMargin))
      },
      {
        val m = pick(Seq(Seq("d_year", "d_quarter", "d_month"), Seq("r_name", "n_name"),
          Seq("p_type", "p_brand")))
        Read("rollup_flat", c => c.rollupFlat(m),
          sql(s"""SELECT ${m.mkString(", ")}, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
                 |  CAST(${m.map(x => s"GROUPING($x)").mkString(" + ")} AS INT) AS level
                 |FROM $wide GROUP BY ROLLUP(${m.mkString(", ")})""".stripMargin))
      },
      {
        val m = pick(Seq(Seq("c_mktsegment", "d_year"), Seq("p_type", "r_name"),
          Seq("d_year", "r_name")))
        Read("cube_flat", c => c.cubeFlat(m),
          sql(s"""SELECT ${m.mkString(", ")}, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
                 |  CAST(${m.map(x => s"GROUPING($x)").mkString(" + ")} AS INT) AS level
                 |FROM $wide GROUP BY CUBE(${m.mkString(", ")})""".stripMargin))
      },
      {
        val lone = pick(Seq("r_name", "p_type"))
        val m = Seq("c_mktsegment", "d_year", lone)
        Read("grouping_sets_flat", c => c.groupingSetsFlat(m,
          Seq(Seq("c_mktsegment", "d_year"), Seq(lone), Seq())),
          sql(s"""SELECT c_mktsegment, d_year, $lone, SUM(l_quantity) AS sum_qty,
                 |  COUNT(*) AS n,
                 |  CAST(GROUPING(c_mktsegment) + GROUPING(d_year) + GROUPING($lone) AS INT) AS level
                 |FROM $wide
                 |GROUP BY GROUPING SETS ((c_mktsegment, d_year), ($lone), ())""".stripMargin))
      },
      {
        val (seg, y) = (pick(Segments), pick(Years))
        Read("denormalize", c => c.q(
          dim("order").where("c_mktsegment" -> Seq(seg)).collapse(),
          dim("date").where("d_year" -> Seq(y)).collapse(),
          dim("supplier").collapse()).denormalize(Seq("part")),
          sql(s"""SELECT p_partkey, p_brand, p_type, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
                 |FROM $wide WHERE c_mktsegment = '$seg' AND d_year = $y
                 |GROUP BY p_partkey, p_brand, p_type""".stripMargin))
      },
      {
        val seg = pick(Segments)
        Read("time_intelligence", c => c.aggregate(Seq("d_year", "d_month"),
          filters = Map("order" -> Map("c_mktsegment" -> Seq(seg))))
          .timeIntelligence("d_month"),
          sql(s"""SELECT d_year, d_month, sum_qty, n,
                 |  SUM(sum_qty) OVER (PARTITION BY d_year ORDER BY d_month
                 |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_sum_qty,
                 |  LAG(n) OVER (PARTITION BY d_year ORDER BY d_month) AS prev_n,
                 |  n - LAG(n) OVER (PARTITION BY d_year ORDER BY d_month) AS delta_n
                 |FROM (SELECT d_year, d_month, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
                 |      FROM $wide WHERE c_mktsegment = '$seg'
                 |      GROUP BY d_year, d_month) a""".stripMargin))
      },
      {
        val reg = pick(Regions)
        Read("share_along", c => c.aggregate(Seq("d_year", "p_type"),
          filters = Map("supplier" -> Map("r_name" -> Seq(reg))))
          .shareAlong("p_type"),
          sql(s"""SELECT d_year, p_type, n,
                 |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY d_year) AS share_n
                 |FROM (SELECT d_year, p_type, COUNT(*) AS n FROM $wide
                 |      WHERE r_name = '$reg' GROUP BY d_year, p_type) a""".stripMargin))
      },
      {
        val k = 1 + r.nextInt(3)
        Read("topk_other", c => c.aggregate(Seq("d_year", "c_mktsegment"))
          .topKOther("c_mktsegment", k, "n"),
          sql(s"""SELECT d_year, seg AS c_mktsegment, SUM(n) AS n, SUM(sum_qty) AS sum_qty
                 |FROM (SELECT d_year, n, sum_qty,
                 |        CASE WHEN ROW_NUMBER() OVER (PARTITION BY d_year
                 |               ORDER BY n DESC, c_mktsegment ASC) <= $k
                 |             THEN c_mktsegment ELSE 'OTHER' END AS seg
                 |      FROM (SELECT d_year, c_mktsegment, COUNT(*) AS n,
                 |              SUM(l_quantity) AS sum_qty
                 |            FROM $wide GROUP BY d_year, c_mktsegment) a) b
                 |GROUP BY d_year, seg""".stripMargin))
      },
      {
        val ys = two(Years)
        Read("format_pivot", c => CubeIO.format(
          c.aggregate(Seq("c_mktsegment", "d_year"),
            filters = Map("date" -> Map("d_year" -> ys))),
          Seq("c_mktsegment"), Seq("d_year"), Seq("n", "sum_qty"), Map.empty, ys),
          spark => spark.sql(
            s"""SELECT c_mktsegment, d_year, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
               |FROM $wide WHERE d_year IN (${sq(ys)})
               |GROUP BY c_mktsegment, d_year""".stripMargin)
            .groupBy("c_mktsegment").pivot("d_year", ys)
            .agg(first(col("n")).as("n"), first(col("sum_qty")).as("sum_qty")))
      }
    )
  }

  private def expected(ctx: Ctx, read: Read): Array[Row] =
    oracleCache.getOrElseUpdate(read.template,
      ctx.tracer.span("oracle", "bench", "check")(read.oracle(ctx.spark).collect()))

  private def issue(ctx: Ctx, read: Read): Unit = {
    val cube = Tpch.cube(ctx.spark, ctx.dataDir)
    ctx.tracer.span(read.template, "bench", "op") {
      val res = ctx.runner.attempt("read", read.template) {
        val df = ctx.tracer.span(read.template, "model", "compose")(read.run(cube))
        ctx.collect(df, "model")
      } { case (rows, _) => Compare.diff(rows, expected(ctx, read)) }
      res.foreach { case (rows, planMs) =>
        ctx.runner.annotate("plan_ms" -> planMs, "rows" -> rows.length)
      }
    }
  }

  private var passNo = 0

  def warmup(ctx: Ctx): Unit = {
    reads = templates(new scala.util.Random(ctx.seed))
    QueryOps.reset(ctx, name, OlapCube.Queries)
    // every op once, unrecorded: fills the oracle answers and warms JIT
    val w = cacheWide(ctx.spark, ctx.dataDir)
    reads.foreach(issue(ctx, _))
    w.unpersist(blocking = true)
    OlapCube.Queries.foreach(QueryOps.run(ctx, name, passNo, _))
  }

  def measure(ctx: Ctx, deadlineNs: Long, minPasses: Int): Seq[Double] = {
    val passes = mutable.ArrayBuffer[Double]()
    // a pass issues every read template once in a fixed order, with the
    // program's own cube query midway; the deadline is checked between
    // whole passes only, so every run times and checks the same op mix and
    // only the drawn parameters vary
    val (head, tail) = reads.splitAt(reads.size / 2)
    while (passes.size < minPasses || System.nanoTime() < deadlineNs) {
      passNo += 1
      val t0 = System.nanoTime()
      head.foreach(issue(ctx, _))
      OlapCube.Queries.foreach(QueryOps.run(ctx, name, passNo, _))
      tail.foreach(issue(ctx, _))
      passes += (System.nanoTime() - t0) / 1e9
    }
    passes.toSeq
  }

}

object OlapCube {
  /** `SparkEntry.queries` entries over the same cube: the program's query
    * layer, checked against their DuckDB oracle after the run. */
  val Queries = Seq("q04_attr_aggregate")

  /** One parameterized read: the cube call and its independent oracle. */
  final case class Read(template: String, run: DataCube => DataFrame,
                        oracle: SparkSession => DataFrame)
}
