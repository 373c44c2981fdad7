package perfbench

import graft.SparkEntry

/** Runs `SparkEntry.queries` entries as timed ops that write their output
  * to parquet. Their answers are checked after the JVM exits, against
  * `SparkEntry.oracleSql` in DuckDB, so each run leaves the oracle SQL
  * beside the outputs. */
object QueryOps {
  def outRoot(ctx: Ctx, workload: String): String =
    s"${ctx.workDir}/out/$workload/${ctx.seed}"

  def reset(ctx: Ctx, workload: String, queries: Seq[String]): Unit = {
    val root = new java.io.File(outRoot(ctx, workload))
    org.apache.commons.io.FileUtils.deleteDirectory(root)
    root.mkdirs()
    Json.write(new java.io.File(root, "oracle_sql.json"),
      queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }

  def run(ctx: Ctx, workload: String, pass: Int, q: String): Unit = {
    val out = s"${outRoot(ctx, workload)}/pass-$pass/$q"
    ctx.tracer.span(q, "bench", "op") {
      ctx.runner.attempt("query", q) {
        val df = ctx.tracer.span(q, "queries", "compose")(
          SparkEntry.queries(q)(ctx.spark, ctx.dataDir))
        ctx.tracer.span(q, "queries", "write")(
          df.coalesce(1).write.mode("overwrite").parquet(out))
      } { _ => None }
      ctx.runner.annotate("output" -> out)
    }
  }
}
