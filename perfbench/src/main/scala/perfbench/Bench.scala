package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What a workload sees of the run: its inputs, the tracer, the op runner
  * and the current session. */
final class Ctx(val seed: Long, val dataDir: String, val workDir: String,
                val tracer: Tracer, val runner: Runner,
                val sessionConf: Seq[(String, String)]) {
  @volatile var spark: SparkSession = _

  /** Start a fresh session with the fixed benchmark config. */
  def startSession(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
    sessionConf.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    spark
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Materialize a result whole on the driver, the way an analyst reads
    * it: planning is forced first (its phases are read back from the
    * query's tracker), then every row and column is collected. */
  def collect(df: DataFrame, layer: String): (Array[Row], Double) = {
    val qe = df.queryExecution
    tracer.span("plan", layer, "plan")(qe.executedPlan)
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val rows = tracer.span("execute", layer, "execute")(df.collect())
    (rows, planMs)
  }

  /** MB of persisted blocks (memory + disk) the session holds now. */
  def cachedMb: Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
}

/** A workload: inputs, a set-up that can be repeated, a warm-up, and the
  * measured closed loop. */
trait Workload {
  def name: String
  /** Write this workload's seeded inputs (not part of set-up time). */
  def prepare(ctx: Ctx): Unit
  /** Build and fill whatever the measured loop reads; timed as set-up. */
  def setup(ctx: Ctx): Unit
  /** Untimed ops after a first set-up, so JIT and codegen settle before
    * the timed set-ups and the measurement. */
  def warmup(ctx: Ctx): Unit
  /** Issue ops until `deadlineNs` and at least `minPasses` complete
    * passes; every op goes through `ctx.runner`. Returns the wall-clock
    * seconds of each complete pass. */
  def measure(ctx: Ctx, deadlineNs: Long, minPasses: Int): Seq[Double]
  /** Figures read at the end of the run (sizes, ratios). */
  def finish(ctx: Ctx): Map[String, Any] = Map.empty
}

/** Order-insensitive result comparison for checks: the result must hold
  * every column of the expected answer, with the same multiset of rows
  * over those columns. Doubles compare at 9 significant digits and
  * decimals as doubles, so summation order cannot fail a check. */
object Compare {
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else f"$d%.9g"
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => canon(b.doubleValue)
    case b: BigDecimal => canon(b.toDouble)
    case n: java.lang.Number => n.longValue.toString
    case other => other.toString
  }

  def rowsOf(rows: Array[Row], cols: Seq[String]): Seq[String] = {
    if (rows.isEmpty) return Seq.empty
    val names = rows.head.schema.fieldNames
    val missing = cols.filterNot(names.contains)
    require(missing.isEmpty, s"result lacks column(s) ${missing.mkString(", ")}")
    val idx = cols.map(c => names.indexOf(c))
    rows.toSeq.map(r => idx.map(i => canon(r.get(i))).mkString("|")).sorted
  }

  /** None when `got` answers `expected`, else a short reason. */
  def diff(got: Array[Row], expected: Array[Row]): Option[String] = {
    if (got.length != expected.length)
      return Some(s"row count ${got.length}, expected ${expected.length}")
    if (expected.isEmpty) return None
    val cols = expected.head.schema.fieldNames.toSeq
    val g = rowsOf(got, cols)
    val e = rowsOf(expected, cols)
    g.zip(e).find { case (a, b) => a != b }
      .map { case (a, b) => s"first differing row: got [$a], expected [$b]" }
  }
}

/** Writes the raw run record (Scala maps, sequences and scalars) as JSON. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(file: File, v: Any): Unit = mapper.writeValue(file, v)
}

object Main {
  /** Timed set-ups per run; set-up time is their median. */
  val Setups = 3

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val opts = mutable.Map[String, String]()
    val conf = mutable.ArrayBuffer[(String, String)]()
    argv.grouped(2).foreach {
      case Array("--conf", kv) =>
        val i = kv.indexOf('=')
        if (i <= 0) usage(s"bad --conf $kv")
        conf += kv.take(i) -> kv.drop(i + 1)
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => usage(s"bad arguments ${other.mkString(" ")}")
    }
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val workDir = new File(opt("work")).getAbsolutePath
    val out = opt("out")
    val workload: Workload = opt("workload") match {
      case "olap_cube" => new OlapCube
      case "star_maintain" => new StarMaintain
      case w => usage(s"unknown workload $w")
    }
    val dataDir = s"$workDir/data/${workload.name}/seed-$seed"
    val tracer = new Tracer(trace)
    val ctx = new Ctx(seed, dataDir, workDir, tracer, new Runner, conf.toSeq)
    val loadAvg = mutable.ArrayBuffer[Double]()
    def sampleLoad(): Unit =
      loadAvg += ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    sampleLoad()
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "seed" -> seed, "trace" -> trace)
    val setupS = mutable.ArrayBuffer[Double]()
    // wall-clock seconds of each phase of the run, for the run record
    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    var error: String = null
    try {
      // inputs are written in a session of their own, not timed as set-up
      ctx.startSession()
      if (!new File(s"$dataDir/_SUCCESS").exists()) {
        tracer.span("prepare", "bench", "prepare")(workload.prepare(ctx))
        new File(s"$dataDir/_SUCCESS").createNewFile()
      }
      phase("prepare")
      // a first, untimed set-up feeds the warm-up ops, so the timed set-ups
      // and the measured ops all run on a warm JIT; set-up time is the
      // median of the timed set-ups, each from session start
      tracer.span("setup-warmup", "bench", "setup")(workload.setup(ctx))
      tracer.span("warmup", "bench", "warmup")(workload.warmup(ctx))
      phase("warmup")
      for (_ <- 1 to Main.Setups) {
        ctx.stopSession()
        sampleLoad()
        val t0 = System.nanoTime()
        tracer.span("setup", "bench", "setup") {
          ctx.startSession()
          workload.setup(ctx)
        }
        setupS += (System.nanoTime() - t0) / 1e9
      }
      result("cache_mb") = ctx.cachedMb
      phase("setups")
      ctx.runner.endWarmup()
      sampleLoad()
      val gcBefore = gcMs()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      val end = t0 + (seconds * 1e9).toLong
      val passes =
        if (!trace) workload.measure(ctx, end, minPasses = 0)
        else {
          // a traced run measures its first half untraced, so the second,
          // traced half shows what tracing costs; the traced half runs at
          // least one whole pass, so every op of the mix is traced
          tracer.pause()
          val untraced = workload.measure(ctx, t0 + (seconds * 0.5e9).toLong, minPasses = 0)
          result("untraced_ops") = ctx.runner.attempted
          tracer.resume()
          untraced ++ tracer.span("measure", "bench", "workload")(
            workload.measure(ctx, end, minPasses = 1))
        }
      result("measure_s") = (System.nanoTime() - t0) / 1e9
      result("gc_ms") = gcMs() - gcBefore
      result("heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      result("passes_s") = passes
      sampleLoad()
      phase("measure")
      result ++= tracer.span("finish", "bench", "check")(workload.finish(ctx))
      phase("finish")
      result("session_conf") = ctx.spark.conf.getAll
      result("spark_version") = ctx.spark.version
      result("cores") = ctx.spark.sparkContext.defaultParallelism
    } catch {
      case e: Throwable =>
        error = Runner.describe(e)
        e.printStackTrace()
    } finally {
      try ctx.stopSession() catch { case _: Throwable => }
    }
    result("error") = error
    result("phases_s") = phases
    result("setup_s") = setupS.toSeq
    result("ops") = ctx.runner.records.map(_.toMap).toSeq
    result("load_avg") = loadAvg.toSeq
    result("nproc") = Runtime.getRuntime.availableProcessors
    result("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    result("jvm") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
    if (trace) {
      result("spans") = tracer.spanRecords
      result("jobs") = tracer.jobRecords
    }
    Json.write(new File(out), result)
    sys.exit(if (error == null) 0 else 1)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
