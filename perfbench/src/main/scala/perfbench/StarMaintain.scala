package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.io.CubeIO
import graft.model.{DataCube, Dimension, Fact, Measure}
import graft.operators.AggregateNavigator
import graft.operators.AggregateNavigator.NavMeasure

/** Writes beside reads on disk: a seeded star saved with `CubeIO.saveStar`
  * (partitioned by month) plus `AggregateNavigator` summaries, then a closed
  * loop of write batches (ingest + summary refresh, every second batch a
  * retraction of the oldest ingest still live) with navigator reads between them. Nothing
  * is persisted, so every read goes to parquet. Answers are checked against
  * the bench's own ledger of ingested minus retracted rows. */
final class StarMaintain extends Workload {
  val name = "star_maintain"

  type Key = (Int, Int, Int, Int) // month, day, store, product
  val Dims = Seq("month", "day", "store", "product")
  val BaseMonths = 18
  val AllMonths = 36
  val Stores = 12
  val Products = 60
  val BaseRows = 40000
  val DeltaRows = 2000
  val ReadsPerBatch = 6
  val RetractEvery = 2

  val measures = Seq(NavMeasure("sum", "sum_cents", "sum_cents"),
    NavMeasure("sum", "n_rows", "n_rows"))
  val grains = Seq("by_month_store" -> Seq("month", "store"),
    "by_product" -> Seq("product"), "by_month" -> Seq("month"))

  /** The read shapes, issued in this fixed order: the first four are
    * covered by a summary, the last two fall back to the base fact. */
  val shapes: Seq[(Seq[String], Boolean)] = Seq(
    (Seq("month", "store"), true), (Seq("product"), false), (Seq("month"), false),
    (Seq("store"), true), (Seq("day", "store"), true), (Seq("product", "store"), false))

  private val schema = StructType(Seq(
    StructField("month", IntegerType), StructField("day", IntegerType),
    StructField("store", IntegerType), StructField("product", IntegerType),
    StructField("sum_cents", LongType), StructField("n_rows", LongType)))

  private def month(i: Int) = 202001 + (i / 12) * 100 + i % 12
  private def starDir(ctx: Ctx) = s"${ctx.workDir}/star-${ctx.seed}"
  private def store(ctx: Ctx) = s"${starDir(ctx)}/store"
  private def summaries(ctx: Ctx) = s"${starDir(ctx)}/summaries"
  private def basePath(ctx: Ctx) = s"${ctx.dataDir}/star_base.parquet"
  private def deltaPath(ctx: Ctx, b: Int) = s"${ctx.dataDir}/star_delta_$b.parquet"

  // ledger of live rows: ingested minus retracted, per grain cell
  private val ledger = mutable.HashMap[Key, (Long, Long)]()
  // the base rows' ledger, read once so that timed set-ups do no bench work
  private var baseLedger: Map[Key, (Long, Long)] = _
  private var batch = 0 // global batch counter (journal ids)
  private var rng: scala.util.Random = _
  private val ingested = mutable.Queue[Int]() // batches not yet retracted
  private val deltaRows = mutable.HashMap[Int, Seq[Row]]()
  private var deltaBytes = 0L
  private var writtenBytes = 0L
  private var partitionsTouched = 0L
  private var freshBytes = 0L

  private def rows(r: scala.util.Random, n: Int, monthOf: => Int): Seq[Row] =
    Seq.fill(n)(Row(month(monthOf), 1 + r.nextInt(28), r.nextInt(Stores),
      r.nextInt(Products), (100 + r.nextInt(100000)).toLong, 1L))

  private def write(spark: SparkSession, path: String, rs: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
      .write.mode("overwrite").parquet(path)

  def prepare(ctx: Ctx): Unit = {
    val r = new scala.util.Random(ctx.seed * 31 + 7)
    write(ctx.spark, basePath(ctx), rows(r, BaseRows, r.nextInt(BaseMonths)))
  }

  private def applyToLedger(rs: Seq[Row], sign: Long): Unit = rs.foreach { row =>
    val k = (row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3))
    val (c, n) = ledger.getOrElse(k, (0L, 0L))
    val next = (c + sign * row.getLong(4), n + sign * row.getLong(5))
    if (next._2 == 0L) ledger.remove(k) else ledger(k) = next
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    org.apache.commons.io.FileUtils.deleteDirectory(new File(starDir(ctx)))
    val base = spark.read.parquet(basePath(ctx))
    def domain(c: String, vs: Seq[Int]) = {
      import spark.implicits._
      Dimension.build(c, c, ListMap.empty, vs.toDF(c))
    }
    val cube = ctx.tracer.span("DataCube.build", "model", "compose") {
      DataCube.build(
        Fact.build(base, Dims, Seq(Measure.sum("sum_cents", "sum_cents"),
          Measure.sum("n_rows", "n_rows"))),
        Seq(domain("month", (0 until AllMonths).map(month)),
          domain("day", 1 to 28), domain("store", 0 until Stores),
          domain("product", 0 until Products)))
    }
    ctx.tracer.span("CubeIO.saveStar", "io", "write") {
      CubeIO.saveStar(cube, store(ctx), partitionFact = Seq("month"))
    }
    ctx.tracer.span("buildSummaries", "operators", "write") {
      AggregateNavigator.buildSummaries(
        CubeIO.loadStar(spark, store(ctx)).fact.data, grains, measures,
        summaries(ctx))
    }
    if (baseLedger == null) {
      ledger.clear()
      applyToLedger(base.collect().toSeq, 1L)
      baseLedger = ledger.toMap
    }
    ledger.clear()
    ledger ++= baseLedger
    batch = 0
    ingested.clear()
    deltaRows.clear()
    rng = new scala.util.Random(ctx.seed * 17 + 3)
  }

  /** Files under `dir` with their sizes. */
  private def listing(dir: String): Map[String, Long] = {
    val root = new File(dir)
    if (!root.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      org.apache.commons.io.FileUtils.listFiles(root, null, true).asScala
        .map(f => f.getPath -> f.length).toMap
    }
  }

  private def storeListing(ctx: Ctx) = listing(store(ctx)) ++ listing(summaries(ctx))

  private def writeBatch(ctx: Ctx): Unit = {
    val spark = ctx.spark
    batch += 1
    val b = batch
    val retract = b % RetractEvery == 0 && ingested.nonEmpty
    val (kind, rs) =
      if (retract) {
        val old = ingested.dequeue()
        ("retract", deltaRows.remove(old).get)
      } else {
        // most rows land in the newest month; a tail of late arrivals
        // goes to older partitions
        val newest = BaseMonths + (b - 1) / RetractEvery
        val r = rng
        val fresh = rows(r, DeltaRows,
          if (r.nextInt(5) == 0) r.nextInt(newest) else newest)
        deltaRows(b) = fresh
        ingested.enqueue(b)
        ("ingest", fresh)
      }
    val path = deltaPath(ctx, b)
    write(spark, path, rs)
    val deltaSize = listing(path).collect { case (p, s) if p.endsWith(".parquet") => s }.sum
    val before = storeListing(ctx)
    val ok = ctx.tracer.span(kind, "bench", "op") {
      ctx.runner.attempt("write", kind) {
        val delta = spark.read.parquet(path)
        if (retract) {
          ctx.tracer.span("retractFromStarOnce", "io", "write")(
            CubeIO.retractFromStarOnce(spark, store(ctx), delta, "n_rows", b))
          ctx.tracer.span("retractSummariesOnce", "operators", "write")(
            AggregateNavigator.retractSummariesOnce(delta, summaries(ctx), b))
        } else {
          ctx.tracer.span("ingestIntoStarOnce", "io", "write")(
            CubeIO.ingestIntoStarOnce(spark, store(ctx), delta, b))
          ctx.tracer.span("refreshSummariesOnce", "operators", "write")(
            AggregateNavigator.refreshSummariesOnce(delta, summaries(ctx), b))
        }
      } { applied => if (applied) None else Some(s"batch $b was skipped as a replay") }
    }
    // a failed write leaves the ledger as it was, so later reads expose
    // whatever the failed batch did to the stores
    if (ok.isDefined) applyToLedger(rs, if (retract) -1L else 1L)
    val after = storeListing(ctx)
    val written = after.filter { case (p, s) => !before.get(p).contains(s) }
    val dataFiles = written.keys.filter(_.endsWith(".parquet"))
    val touched = dataFiles.filter(_.contains("/store/fact/"))
      .map(p => p.substring(0, p.lastIndexOf('/'))).toSet.size +
      before.keys.count(p => p.contains("/store/fact/") && p.endsWith(".parquet") &&
        !after.contains(p) && !new File(p).getParentFile.exists())
    if (ok.isDefined) {
      deltaBytes += deltaSize
      writtenBytes += written.values.sum
      partitionsTouched += touched
      ctx.runner.annotate("delta_bytes" -> deltaSize,
        "bytes_written" -> written.values.sum, "partitions_rewritten" -> touched)
    }
  }

  private def expected(dims: Seq[String], monthFilter: Option[Int]): Seq[String] = {
    val idx = dims.map(Dims.indexOf)
    ledger.toSeq
      .filter { case (k, _) => monthFilter.forall(_ == k._1) }
      .groupMapReduce { case (k, _) =>
        val t = k.productIterator.toIndexedSeq
        idx.map(t)
      } { case (_, v) => v } { case ((a, b), (c, d)) => (a + c, b + d) }
      .toSeq.map { case (ks, (c, n)) =>
        (ks.map(Compare.canon) ++ Seq(c.toString, n.toString)).mkString("|")
      }.sorted
  }

  private def read(ctx: Ctx, dims: Seq[String], filtered: Boolean): Unit = {
    val spark = ctx.spark
    val liveMonths = ledger.keysIterator.map(_._1).toIndexedSeq.distinct.sorted
    val m = if (filtered) Some(liveMonths(rng.nextInt(liveMonths.size))) else None
    ctx.tracer.span(dims.mkString("+"), "bench", "op") {
      val res = ctx.runner.attempt("read", dims.mkString("+")) {
        val (df, path) = ctx.tracer.span("query", "operators", "compose") {
          val inventory = AggregateNavigator.loadSummaries(spark, summaries(ctx))
          AggregateNavigator.query(spark,
            ctx.tracer.span("CubeIO.loadStar", "io", "compose")(
              CubeIO.loadStar(spark, store(ctx)).fact.data),
            inventory, dims, measures, m.map(v => "month" -> Seq(v)).toMap)
        }
        (ctx.collect(df, "operators"), path)
      } { case ((rows, _), _) =>
        val got = Compare.rowsOf(rows, dims ++ Seq("sum_cents", "n_rows"))
        val want = expected(dims, m)
        if (got.size != want.size) Some(s"row count ${got.size}, ledger ${want.size}")
        else got.zip(want).find { case (a, b) => a != b }
          .map { case (a, b) => s"got [$a], ledger [$b]" }
      }
      res.foreach { case ((rows, planMs), path) =>
        ctx.runner.annotate("plan_ms" -> planMs, "rows" -> rows.length,
          "path" -> path, "routed" -> (path != "base"))
      }
    }
  }

  /** One pass: a cycle of write batches (ingests, then a retraction),
    * each followed by one read of every shape, so every pass has the same
    * mix of ops. */
  private def pass(ctx: Ctx): Unit = (1 to RetractEvery).foreach { _ =>
    writeBatch(ctx)
    shapes.foreach { case (d, f) => read(ctx, d, f) }
  }

  def warmup(ctx: Ctx): Unit = {
    pass(ctx)
    deltaBytes = 0L; writtenBytes = 0L; partitionsTouched = 0L
  }

  def measure(ctx: Ctx, deadlineNs: Long, minPasses: Int): Seq[Double] = {
    val passes = mutable.ArrayBuffer[Double]()
    while (passes.size < minPasses || System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      pass(ctx)
      passes += (System.nanoTime() - t0) / 1e9
    }
    passes.toSeq
  }

  override def finish(ctx: Ctx): Map[String, Any] = {
    // summary-routed answers must equal the base path for every grain
    val spark = ctx.spark
    val inventory = AggregateNavigator.loadSummaries(spark, summaries(ctx))
    grains.foreach { case (gname, g) =>
      def answer(inv: Seq[AggregateNavigator.Summary]) =
        Compare.rowsOf(AggregateNavigator.query(spark,
          CubeIO.loadStar(spark, store(ctx)).fact.data, inv, g, measures)._1.collect(),
          g ++ Seq("sum_cents", "n_rows"))
      ctx.runner.attempt("route_check", gname)(answer(inventory)) { routed =>
        if (routed == answer(Seq.empty)) None
        else Some(s"summary $gname disagrees with the base path")
      }
    }
    val fresh = s"${starDir(ctx)}/fresh"
    write(spark, fresh, ledger.toSeq.map { case ((a, b, c, d), (x, n)) => Row(a, b, c, d, x, n) })
    freshBytes = listing(fresh).collect { case (p, s) if p.endsWith(".parquet") => s }.sum
    val st = listing(store(ctx))
    val su = listing(summaries(ctx))
    Map("delta_bytes" -> deltaBytes, "bytes_written" -> writtenBytes,
      "partitions_rewritten" -> partitionsTouched,
      "store_bytes" -> st.values.sum, "store_files" -> st.size,
      "summary_bytes" -> su.values.sum, "summary_files" -> su.size,
      "fresh_bytes" -> freshBytes, "store_dir" -> store(ctx),
      "summary_dir" -> summaries(ctx), "fresh_dir" -> fresh)
  }
}
