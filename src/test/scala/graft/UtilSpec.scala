package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.util.{Par, SessionMemo, Sessions}

/** The shared mechanisms under graft.util: the build-once SessionMemo,
  * the one Sessions.local config, Stage.materialize's checkpoint policy,
  * Par.run's failure contract and Jobs.labeled's description restore. */
class UtilSpec extends SparkSpec {

  // ------------------------------------------------------------------
  // SessionMemo
  // ------------------------------------------------------------------

  test("SessionMemo: concurrent callers of one key build exactly once") {
    val builds = new AtomicInteger(0)
    val memo = new SessionMemo[Int]("count", (_, _) => {
      Thread.sleep(50); builds.incrementAndGet()
    }, _ => ())
    val got = Par.run((1 to 8).map(_ => () => memo(spark, "d")))
    assert(builds.get() == 1)
    assert(got.forall(_ == 1))
  }

  test("SessionMemo: a build that calls another memo succeeds") {
    val inner = new SessionMemo[Int]("inner", (_, _) => 1, _ => ())
    val outer = new SessionMemo[Int]("outer", (s, d) => inner(s, d) + 1, _ => ())
    assert(outer(spark, "d") == 2)
    assert(inner.cached(spark, "d") && outer.cached(spark, "d"))
  }

  test("SessionMemo: a throwing build leaves no entry and no hook; a " +
    "retry builds again") {
    val builds = new AtomicInteger(0)
    val memo = new SessionMemo[Int]("flaky", (_, _) => {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("planted")
      7
    }, _ => ())
    intercept[IllegalStateException](memo(spark, "d"))
    assert(!memo.cached(spark, "d"))
    assert(!memo.hooked(spark.sparkContext))
    assert(memo(spark, "d") == 7 && builds.get() == 2)
    assert(memo.cached(spark, "d") && memo.hooked(spark.sparkContext))
  }

  test("SessionMemo: invalidate runs the release and the next call " +
    "rebuilds") {
    val builds = new AtomicInteger(0)
    val released = new AtomicInteger(0)
    val memo = new SessionMemo[Int]("evict",
      (_, _) => builds.incrementAndGet(), v => released.set(v))
    assert(memo(spark, "d") == 1 && memo(spark, "d") == 1)
    memo.invalidate(spark, "d")
    assert(released.get() == 1 && !memo.cached(spark, "d"))
    assert(memo(spark, "d") == 2)
    memo.invalidate(spark, "other") // no entry: nothing to release
    assert(released.get() == 1)
  }

  // ------------------------------------------------------------------
  // Sessions.local
  // ------------------------------------------------------------------

  test("Sessions.local sets the one config; a second call returns the " +
    "same session") {
    assert(Sessions.settings(3).toMap == Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "128m",
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    // The suite's JVM already runs the fixture session, so local() must
    // reuse it: only the runtime SQL settings apply, and they are put
    // back afterwards (PlanSpec pins plans under the fixture's config).
    val sqlKeys = Sessions.settings(Sessions.cpus).toMap
      .filter(_._1.startsWith("spark.sql."))
    val saved = sqlKeys.keys.map(k => k -> spark.conf.getOption(k))
    try {
      val s = Sessions.local()
      assert(s eq Sessions.local())
      assert(s eq spark)
      sqlKeys.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
      assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
        org.apache.logging.log4j.Level.WARN)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.sparkContext.setLogLevel("ERROR")
    }
  }

  // ------------------------------------------------------------------
  // Stage.materialize policy
  // ------------------------------------------------------------------

  test("Stage.materialize default = localCheckpoint (truncated lineage, " +
    "same rows); reliable mode = reliable checkpoint under the conf " +
    "switch with no call-site change") {
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val local = graft.util.Stage.materialize(df)
    def isBarrier(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.logical.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD]
    assert(isBarrier(local), "default mode must checkpoint (plan barrier)")
    assert(local.collect().map(_.getLong(1)).sorted.toSeq ==
      df.collect().map(_.getLong(1)).sorted.toSeq)
    val dir = java.nio.file.Files.createTempDirectory("stage_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val reliable = graft.util.Stage.materialize(df)
      assert(isBarrier(reliable), "reliable mode must checkpoint too")
      assert(reliable.collect().map(_.getLong(1)).sorted.toSeq ==
        df.collect().map(_.getLong(1)).sorted.toSeq)
      // the reliable checkpoint actually landed in the checkpoint dir
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try assert(files.filter(java.nio.file.Files.isRegularFile(_))
        .count() > 0, "reliable checkpoint wrote no files")
      finally files.close()
    } finally spark.conf.set("spark.graft.checkpoint.reliable", "false")
  }

  // ------------------------------------------------------------------
  // Par.run failure contract
  // ------------------------------------------------------------------

  test("Par.run: first failure (input order) propagates with the other " +
    "legs' failures suppressed; successful legs still ran (no-cancel)") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException](graft.util.Par.run[Int](Seq(
      () => { ran.incrementAndGet(); 1 },
      () => throw new IllegalStateException("leg-b"),
      () => throw new IllegalArgumentException("leg-c"),
      () => { ran.incrementAndGet(); 4 })))
    assert(e.getMessage == "leg-b", "first failure in input order wins")
    assert(e.getSuppressed.exists(_.getMessage == "leg-c"),
      "later failures must attach via addSuppressed, not vanish")
    assert(ran.get() == 2, "non-failing legs run to completion")
  }

  test("Par.run returns results in input order") {
    assert(graft.util.Par.run[Int](
      Seq(() => { Thread.sleep(50); 1 }, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  // ------------------------------------------------------------------
  // Jobs.labeled restoration
  // ------------------------------------------------------------------

  test("Jobs.labeled restores the caller's previous job description " +
    "instead of clearing it (nested labels keep the outer scope)") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      graft.util.Jobs.labeled(sc, "inner") {
        assert(sc.getLocalProperty("spark.job.description") == "inner")
      }
      assert(sc.getLocalProperty("spark.job.description") == "outer",
        "outer label must survive a nested labeled region")
    } finally sc.setJobDescription(null)
    graft.util.Jobs.labeled(sc, "solo")(())
    assert(sc.getLocalProperty("spark.job.description") == null,
      "a null previous description must be restored as null")
  }
}
