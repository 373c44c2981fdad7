package graft

import org.apache.spark.sql.functions._

/** One-off diagnostic: max (band, sig) bucket sizes for the LSH band joins
  * at a given sf dir — informs the DefaultMaxBucket hot-bucket guard cap.
  * `sbt "Test/runMain graft.BucketProbe [sfDir]"` */
object BucketProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.util.Sessions.local()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    // minhash band buckets (k=32, bands=8 defaults)
    val sig = graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text")
    val r = 4
    val bandArr = array((0 until 8).map { b =>
      array((b * r until (b + 1) * r).map(i => col(s"mh$i")): _*)
    }: _*)
    val bandRows = sig.select(col("doc_id"), posexplode(bandArr).as(Seq("band", "sig")))
    println("[probe] minhash max bucket: " + bandRows.groupBy("band", "sig")
      .count().agg(max("count")).head().getLong(0))

    // simhash pigeonhole buckets (60 bits, 4 bands)
    val sh = graft.operators.Dedup.simhash(docs, "doc_id", "text")
    val nb = 4; val w = 15
    val bArr = array((0 until nb).map { b =>
      shiftright(col("simhash"), b * w).bitwiseAND((1L << w) - 1)
    }: _*)
    println("[probe] simhash max bucket: " + sh
      .select(col("doc_id"), posexplode(bArr).as(Seq("band", "bits")))
      .groupBy("band", "bits").count().agg(max("count")).head().getLong(0))

    // q59-style sign-LSH buckets at threshold 0.9 auto params (12 planes)
    val b59 = graft.operators.Similarity.lshBucket(
      graft.operators.Similarity.normalize(col("embedding")), 0, 12, 64)
    println("[probe] signlsh max bucket: " + emb.select(b59.as("b"))
      .groupBy("b").count().agg(max("count")).head().getLong(0))

    // timing: the bucketed embedding near-dup path (ScaleProbe's 1x step),
    // guarded vs unguarded to isolate the hot-bucket guard's cost
    (1 to 2).foreach { rep =>
      val t0 = System.nanoTime()
      val n = graft.operators.Similarity.nearDupPairs(emb, 0.9).count()
      println(f"[probe] neardup guarded   rep$rep ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      val t1 = System.nanoTime()
      val m = graft.operators.Similarity.nearDupPairs(emb, 0.9, maxBucket = None).count()
      println(f"[probe] neardup unguarded rep$rep ${(System.nanoTime() - t1) / 1e9}%.2fs rows=$m")
    }

    // q59 decomposition: index build vs delta dedup
    val path = s"/tmp/graft_probe_ivf"
    (1 to 2).foreach { rep =>
      val t0 = System.nanoTime()
      graft.operators.Similarity.saveIvfIndex(emb, path, nlist = 16,
        replicate = 2, kmeansIters = 1)
      println(f"[probe] q59 saveIvfIndex  rep$rep ${(System.nanoTime() - t0) / 1e9}%.2fs")
      val rot = concat(slice(col("embedding"), 14, 51), slice(col("embedding"), 1, 13))
      val delta = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") % 10 === 1)
          .select((col("vec_id") + 10000).as("vec_id"), rot.as("embedding")))
      val t1 = System.nanoTime()
      val (surv, _) = graft.operators.Similarity.nearDupDelta(spark, path, delta, 0.9)
      println(f"[probe] q59 construct     rep$rep ${(System.nanoTime() - t1) / 1e9}%.2fs")
      val t2 = System.nanoTime()
      val c = surv.count()
      println(f"[probe] q59 execute       rep$rep ${(System.nanoTime() - t2) / 1e9}%.2fs rows=$c")
    }
    spark.stop()
  }
}
