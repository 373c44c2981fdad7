package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Corpus, Similarity}
import graft.streaming.{DocStreaming, StoreCompaction, VecStreaming}

/** Operator laws: the store-compaction maintenance loop
  * (maintainStore = storeHealth → conditional compact, healthy no-op),
  * quantized-index source lineage (hands-off rebuilds, by-name failures
  * when the recorded source is gone), the unified exactOov default, the
  * DocStreaming health hook, and the BM25 store maintenance tick. */
class Round17Spec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------------------
  // unified exactOov default
  // ------------------------------------------------------------------

  test("exactOov defaults to true on BOTH tokenizers: the default " +
    "encode equals the explicit exact encode, OOV words included") {
    val train = Seq((1L, "aaa bbb aaa ab abab"), (2L, "abab baba aaa bb"))
      .toDF("doc_id", "text")
    val docs = Seq((10L, "aaa zzz abz"), (11L, "qqq ab"), (12L, "zq"))
      .toDF("doc_id", "text")
    val uni = Bpe.trainUnigram(train, "text", vocabSize = 8,
      maxPieceLen = 3, seedSize = 8, emRounds = 2)
    def m(df: org.apache.spark.sql.DataFrame, c: String) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long](c)).toMap
    assert(m(Bpe.unigramTokenCounts(docs, "doc_id", "text", uni),
        "n_uni_tokens") ==
      m(Bpe.unigramTokenCounts(docs, "doc_id", "text", uni,
        exactOov = true), "n_uni_tokens"))
    val bpe = Bpe.trainBpe(train, "text", numMerges = 4, maxDictWords = 2)
    assert(m(Bpe.encodeTokenCounts(docs, "doc_id", "text", bpe),
        "n_bpe_tokens") ==
      m(Bpe.encodeTokenCounts(docs, "doc_id", "text", bpe,
        exactOov = true), "n_bpe_tokens"))
  }

  // ------------------------------------------------------------------
  // quantized-index source lineage
  // ------------------------------------------------------------------

  private def sineCorpus(n: Int = 64) =
    // range starts at 1: id = 0 makes sin(i*id) the all-zero vector,
    // whose normalize() is NaN and destabilizes k-means realization
    spark.range(1, n + 1).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i =>
        sin(i * col("id")).cast("double")).as("embedding"))

  test("maintainIndex on a drifted SQ8 store with recorded lineage " +
    "rebuilds hands-off (no source argument) and carries the lineage " +
    "forward into the fresh layout") {
    val root = java.nio.file.Files.createTempDirectory("lin_sq").toString
    val srcPath = s"$root/source"
    val dir = s"$root/idx"
    val base = sineCorpus()
    base.write.parquet(srcPath)
    Similarity.saveIvfSqIndex(base, dir, nlist = 4, kmeansIters = 2,
      replicate = 1, sourcePath = Some(srcPath))
    assert(Similarity.readLineage(spark, dir) ==
      Some((srcPath, "vec_id", "embedding")))
    // plant the drift: duplicate the stored codes in place (frac 0.5)
    val assign = spark.read.parquet(s"$dir/corpus")
      .select(col("neighbor_id"), col("sq_code"), col("cell"))
      .localCheckpoint(true)
    assign.repartition(col("cell")).write.mode("append")
      .partitionBy("cell").parquet(s"$dir/corpus")
    val fresh = s"$root/rebuilt"
    val row = Similarity.maintainIndex(spark, dir, fresh,
      kmeansIters = 2, replicate = 1) // NO source: lineage drives it
      .collect().head
    assert(row.getAs[Boolean]("rebuilt") &&
      row.getAs[String]("layout") == "ivf-sq8")
    val h = Similarity.indexHealth(spark, fresh).collect().head
    assert(h.getAs[String]("layout") == "ivf-sq8")
    assert(h.getAs[Long]("rows_total") == 64 &&
      h.getAs[Long]("rows_appended") == 0,
      "rebuild must retrain from the recorded source, not the " +
        "drift-duplicated codes")
    // lineage carried forward: the NEXT maintenance tick is hands-off too
    assert(Similarity.readLineage(spark, fresh) ==
      Some((srcPath, "vec_id", "embedding")))
    // the fresh store serves
    assert(Similarity.ivfSqKnnStored(spark, fresh, base.limit(4), k = 1,
      nprobe = 4).count() == 4)
  }

  test("lineage whose recorded source path is GONE fails by name and " +
    "builds nothing; an explicit source still wins over lineage") {
    val root = java.nio.file.Files.createTempDirectory("lin_gone").toString
    val srcPath = s"$root/source"
    val dir = s"$root/idx"
    val base = sineCorpus()
    base.write.parquet(srcPath)
    Similarity.saveIvfSqIndex(base, dir, nlist = 4, kmeansIters = 2,
      replicate = 1, sourcePath = Some(srcPath))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(srcPath), true)
    val e = intercept[IllegalArgumentException] {
      Similarity.rebuildStoredIndex(spark, dir, s"$root/x")
    }
    assert(e.getMessage.contains("lineage") &&
      e.getMessage.contains(srcPath))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/x")),
      "a failed lineage rebuild must build nothing")
    // explicit source is consulted FIRST — dead lineage cannot block it
    val layout = Similarity.rebuildStoredIndex(spark, dir, s"$root/y",
      source = Some(base), kmeansIters = 2, replicate = 1)
    assert(layout == "ivf-sq8")
    assert(Similarity.ivfSqKnnStored(spark, s"$root/y", base.limit(2),
      k = 1, nprobe = 4).count() == 2)
  }

  test("PQ lineage rebuild preserves code geometry and records no " +
    "lineage when the builder passed none") {
    val root = java.nio.file.Files.createTempDirectory("lin_pq").toString
    val srcPath = s"$root/source"
    val base = sineCorpus()
    base.write.parquet(srcPath)
    val dir = s"$root/idx"
    Similarity.saveIvfPqIndex(base, dir, nlist = 4, m = 4, ksub = 8,
      kmeansIters = 2, replicate = 1, sourcePath = Some(srcPath))
    val fresh = s"$root/rebuilt"
    val layout = Similarity.rebuildStoredIndex(spark, dir, fresh,
      kmeansIters = 2, replicate = 1) // lineage-driven
    assert(layout == "ivf-pq")
    val pq = spark.read.parquet(s"$fresh/pq")
      .agg(max("blk"), max("cid")).head()
    assert(pq.getInt(0) + 1 == 4 && pq.getInt(1) + 1 == 8,
      "lineage rebuild must keep the stored m and ksub")
    assert(Similarity.readLineage(spark, fresh) ==
      Some((srcPath, "vec_id", "embedding")))
    // a store saved WITHOUT sourcePath records nothing — lineage is the
    // builder's promise, never an inference
    val bare = s"$root/bare"
    Similarity.saveIvfPqIndex(base, bare, nlist = 4, m = 4, ksub = 8,
      kmeansIters = 2, replicate = 1)
    assert(Similarity.readLineage(spark, bare).isEmpty)
  }

  // ------------------------------------------------------------------
  // maintainStore: the compaction loop
  // ------------------------------------------------------------------

  /** Per-batch store fixture: `nBatches` partitions, one row per
    * (doc, batch) with s = batch — every row globally unique, so all
    * counts are construction arithmetic. */
  private def plantStore(nBatches: Int, nDocs: Int = 5): String = {
    val dir = java.nio.file.Files.createTempDirectory("maintstore").toString
    spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("batch",
        explode(sequence(lit(0L), lit(nBatches - 1L))))
      .select(col("doc_id"), col("batch").as("s"), col("batch"))
      .write.mode("overwrite").partitionBy("batch").parquet(dir)
    dir
  }

  test("maintainStore fires once past the live-batch bound, loses and " +
    "duplicates nothing, and the next tick is a healthy no-op that " +
    "touches no file") {
    val dir = plantStore(nBatches = 6, nDocs = 5)
    val r1 = DocStreaming.maintainStore(spark, dir, maxLiveBatches = 3)
      .collect().head
    assert(r1.getAs[Int]("batches_live") == 6)
    assert(r1.getAs[Boolean]("recommend_compaction") &&
      r1.getAs[Boolean]("compacted"))
    assert(spark.read.parquet(dir).count() == 30,
      "compaction must preserve every planted row")
    // partition discovery infers `batch` as int — normalize to long
    val batches = spark.read.parquet(dir)
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(batches.sameElements(Array(-1L, 5L)),
      "everything below the newest batch folds into batch=-1")
    // second tick: healthy no-op — row says so and no file changes
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def census() = graft.util.ParquetMeta
      .parquetFiles(fs, new org.apache.hadoop.fs.Path(dir))
      .map(st => (st.getPath.toString, st.getModificationTime, st.getLen))
      .sortBy(_._1)
    val before = census()
    val r2 = DocStreaming.maintainStore(spark, dir, maxLiveBatches = 3)
      .collect().head
    assert(!r2.getAs[Boolean]("compacted") &&
      !r2.getAs[Boolean]("recommend_compaction"))
    assert(r2.getAs[Int]("batches_live") == 1 &&
      r2.getAs[Boolean]("has_compacted"))
    assert(r2.getAs[Long]("rows_live") == 5 &&
      r2.getAs[Long]("rows_compacted") == 25)
    assert(census() == before, "a healthy tick must not touch the store")
  }

  test("maintainStore never claims a compaction that did not run: a " +
    "fired recommendation over a store with nothing mergeable reports " +
    "compacted = false") {
    // 2 batches > maxLiveBatches = 1 fires the recommendation, but only
    // ONE partition sits below the newest — compact() has nothing to
    // fold and must not be reported as having run
    val dir = plantStore(nBatches = 2, nDocs = 3)
    val r = DocStreaming.maintainStore(spark, dir, maxLiveBatches = 1)
      .collect().head
    assert(r.getAs[Boolean]("recommend_compaction"))
    assert(!r.getAs[Boolean]("compacted"),
      "nothing merged — the tick row must say so")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batch=-1")))
    assert(spark.read.parquet(dir).count() == 6, "store untouched")
  }

  test("maintainStore on a healthy store runs no jobs beyond the " +
    "footer census (metadata-sized no-op)") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = plantStore(nBatches = 2, nDocs = 3)
    def countJobs(marker: String)(body: => Unit): Int = {
      val jobs = new AtomicInteger(0)
      val seen = new CountDownLatch(1)
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val g = Option(js.properties)
            .map(_.getProperty("spark.jobGroup.id", "")).getOrElse("")
          if (g == marker) seen.countDown() else jobs.incrementAndGet()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        spark.sparkContext.setJobGroup(marker, "flush")
        spark.range(1).count()
        spark.sparkContext.clearJobGroup()
        assert(seen.await(60, TimeUnit.SECONDS), "listener bus never flushed")
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val censusJobs = countJobs("graft-store-census") {
      StoreCompaction.storeHealth(spark, dir).collect(): Unit
    }
    val maintJobs = countJobs("graft-store-noop") {
      val row = DocStreaming.maintainStore(spark, dir).collect().head
      assert(!row.getAs[Boolean]("compacted"))
    }
    assert(maintJobs <= censusJobs + 1,
      s"healthy maintainStore ran $maintJobs jobs vs $censusJobs for " +
        "the bare census — it must add nothing beyond the measurement")
  }

  test("VecStreaming.maintainStore keeps the compacted appends " +
    "cell-partitioned so probe-side pruning survives compaction") {
    val root = java.nio.file.Files.createTempDirectory("vecmaint").toString
    val appends = s"$root/appends"
    // plant 4 append batches of cell-assigned vectors
    (0 until 4).foreach { b =>
      Seq((b * 10L, Seq(1.0, 0.0), b % 2), (b * 10L + 1, Seq(0.0, 1.0),
          (b + 1) % 2))
        .toDF("neighbor_id", "cv", "cell")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$appends/batch=$b")
    }
    val r = VecStreaming.maintainStore(spark, root, maxLiveBatches = 2)
      .collect().head
    assert(r.getAs[Boolean]("compacted"))
    val snap = spark.read.parquet(appends)
    assert(snap.count() == 8, "compaction must preserve every vector")
    val fs = new org.apache.hadoop.fs.Path(appends)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the batch=-1 snapshot is itself hive-partitioned by cell
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$appends/batch=-1/cell=0")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$appends/batch=-1/cell=1")),
      "compacted snapshot must stay cell-partitioned for probe pruning")
  }

  // ------------------------------------------------------------------
  // DocStreaming health hook
  // ------------------------------------------------------------------

  test("DocStreaming.startNearDupDedup healthEveryN writes a per-batch " +
    "store-health row OUTSIDE the store root") {
    val in = java.nio.file.Files.createTempDirectory("doc_health_in").toString
    val store = java.nio.file.Files
      .createTempDirectory("doc_health_st").toString + "/store"
    val surv = java.nio.file.Files.createTempDirectory("doc_health_s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("doc_health_c").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(in)
    val q = DocStreaming.startNearDupDedup(stream, "doc_id", "text",
      store, surv, ckpt, healthEveryN = 1)
    q.awaitTermination(120000)
    val h = spark.read.parquet(s"${store}_health/batch=0").collect()
    assert(h.length == 1, "exactly one health row per checked batch")
    val row = h.head
    // the check runs AFTER the batch's own store write: its shingles
    // are already counted on the live side
    assert(row.getAs[Int]("batches_live") == 1)
    assert(row.getAs[Long]("rows_live") > 0)
    assert(!row.getAs[Boolean]("recommend_compaction"))
    // the store root itself stays pure batch= partitions (readable)
    assert(spark.read.parquet(store).columns.contains("batch"))
  }

  test("startBm25Ingest healthEveryN writes a postings-store health row " +
    "under the store's health/ dir (outside the probed sub-stores)") {
    val in = java.nio.file.Files.createTempDirectory("bm25h_in").toString
    val store = java.nio.file.Files
      .createTempDirectory("bm25h_st").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("bm25h_c").toString
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(in)
    val q = DocStreaming.startBm25Ingest(stream, "doc_id", "text",
      store, ckpt, healthEveryN = 1)
    q.awaitTermination(120000)
    val h = spark.read.parquet(s"$store/health/batch=0").collect()
    assert(h.length == 1)
    assert(h.head.getAs[Int]("batches_live") == 1)
    assert(!h.head.getAs[Boolean]("recommend_compaction"))
    // the store still searches: health/ is invisible to the probe
    val res = Corpus.bm25SearchStored(spark, store,
      Seq((1L, "alpha")).toDF("query_id", "qtext"), "query_id", "qtext",
      k = 2).collect()
    assert(res.length == 1 && res.head.getAs[Long]("doc_id") == 1L)
  }

  // ------------------------------------------------------------------
  // BM25 store maintenance
  // ------------------------------------------------------------------

  test("maintainBm25Store compacts all three sub-stores past the bound " +
    "and the compacted store still ranks exactly like a full rebuild") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 40)
    val root = java.nio.file.Files
      .createTempDirectory("bm25_maint").toString + "/idx"
    Corpus.saveBm25Store(docsDf.filter(col("doc_id") < 10),
      "doc_id", "text", root)
    (1 to 3).foreach { i =>
      Corpus.refreshBm25Store(
        docsDf.filter(col("doc_id") >= i * 10 && col("doc_id") < (i + 1) * 10),
        "doc_id", "text", root)
    }
    val r1 = Corpus.maintainBm25Store(spark, root, maxLiveBatches = 2)
      .collect().head
    assert(r1.getAs[Boolean]("recommend_compaction") &&
      r1.getAs[Boolean]("compacted"))
    val r2 = Corpus.maintainBm25Store(spark, root, maxLiveBatches = 2)
      .collect().head
    assert(!r2.getAs[Boolean]("compacted"), "second tick is a no-op")
    val qs = Seq((1L, "spark table scan"), (2L, "customer value"))
      .toDF("query_id", "qtext")
    val stored = Corpus.bm25SearchStored(spark, root, qs,
      "query_id", "qtext", k = 8).orderBy("query_id", "rank").collect()
    val oneShot = Corpus.bm25Search(
      Corpus.bm25Index(docsDf, "doc_id", "text"), qs,
      "query_id", "qtext", k = 8).orderBy("query_id", "rank").collect()
    assert(stored.sameElements(oneShot),
      "compacted store must rank exactly like a full rebuild")
  }
}
