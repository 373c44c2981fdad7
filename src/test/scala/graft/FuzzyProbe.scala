package graft

import org.apache.spark.sql.functions._

/** Scratch profiler for the fuzzy-join scale step:
  * `sbt "Test/runMain graft.FuzzyProbe [factor] [sfDir]"`. */
object FuzzyProbe {
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 8
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.util.Sessions.local()
    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def docsN(n: Int) =
      spark.range(n).toDF("rep").crossJoin(docs1)
        .select((col("doc_id") + col("rep") * lit(10000000L)).as("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("rep").cast("string"))).as("text"))
    def t(what: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[fp] $what%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs rows=$r")
    }
    val d = docsN(factor)
    val keys = d.select(substring(col("text"), 1, 16).as("k"))
    t("keys distinct")(keys.filter(col("k").isNotNull).distinct().count())
    val pairs = graft.operators.FuzzyJoin.pairsWithinDistance(keys, "k", 1)
    t("full fuzzy (d=1)")(pairs.count())
    t("full fuzzy again")(pairs.count())

    // stage decomposition (mirrors FuzzyJoin internals)
    val q = 2; val dEd = 1; val prefLen = q * dEd + 1
    val kr = keys.filter(col("k").isNotNull).distinct()
      .withColumnRenamed("k", "__k")
      .withColumn("__gs", graft.operators.FuzzyJoin.gramSet(col("__k"), q))
      .localCheckpoint(true)
    val counts = kr.select(explode(col("__gs")).as("__g")).groupBy("__g").count()
    t("counts")(counts.count())
    val pref = kr
      .select(col("__k"), explode(col("__gs")).as("__g"))
      .join(broadcast(counts), "__g")
      .groupBy(col("__k"))
      .agg(slice(array_sort(collect_list(struct(col("count"), col("__g")))),
        1, prefLen).as("__p"))
      .select(explode(transform(col("__p"), _.getField("__g"))).as("__g"),
        col("__k"))
    t("prefix rows")(pref.count())
    val buckets = pref.localCheckpoint(true)
    val cand = buckets.toDF("__g", "a")
      .join(buckets.toDF("__g", "b"), Seq("__g"))
      .filter(col("a") < col("b"))
    t("join rows")(cand.count())
    t("join+lenfilter")(cand
      .filter(abs(length(col("a")) - length(col("b"))) <= dEd).count())
    t("join+materialize") {
      cand.select(sum(length(col("a")) + length(col("b"))))
        .head().getLong(0)
    }
    t("join+verify builtin")(cand
      .filter(abs(length(col("a")) - length(col("b"))) <= dEd)
      .withColumn("dist", levenshtein(col("a"), col("b"), dEd))
      .filter(col("dist") =!= -1).count())
    val nat = cand
      .filter(abs(length(col("a")) - length(col("b"))) <= dEd)
      .withColumn("dist", graft.functions.StringExpressions
        .boundedLevenshtein(col("a"), col("b"), dEd))
      .filter(col("dist") =!= -1)
    t("join+verify native")(nat.count())
    nat.explain()
    spark.stop()
  }
}
