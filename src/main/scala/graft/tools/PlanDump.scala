package graft.tools

import org.apache.spark.sql.execution.QueryExecution

/** Per-query plan dump at the BENCH session shape (guide §1.4/§7.2):
  * executes each named query (so AQE finalizes) and writes
  * `<outDir>/<name>_<suffix>.txt` with the final formatted plan plus
  * the feature summary line, matching the plans/r* review format.
  * Measurement tooling only — not on the driver contract.
  *
  * Usage: runMain graft.tools.PlanDump <q1,q2,...> <suffix> [sfDir] [cpus] [outDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: PlanDump <q1,q2,...> <suffix> [sfDir] [cpus] [outDir]")).split(",").toSeq
    val suffix = args.lift(1).getOrElse("after")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(3).getOrElse("32")
    val outDir = args.lift(4).getOrElse("plans/r20")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.debug.maxToStringFields", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    names.foreach { name =>
      graft.core.CacheHygiene.resetAll(spark)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val qe: QueryExecution = df.queryExecution
      qe.toRdd.foreach(_ => ()) // finalize AQE; see ExplainAudit
      val formatted = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      val all = graft.ExplainAudit.allNodes(qe.executedPlan)
      val codegenSpans = all.count(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
      val summary = Seq(
        "PushedFilters" -> (formatted.contains("PushedFilters: [") &&
          !formatted.contains("PushedFilters: []")),
        s"WholeStageCodegen x$codegenSpans" -> (codegenSpans > 0),
        "BroadcastHashJoin" -> all.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        "SortMergeJoin" -> all.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec])).collect {
        case (k, v) if v => k
      }.mkString(", ")
      val exchanges = all.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      val sb = new StringBuilder
      sb.append(s"## $name\n\n")
      sb.append(s"- features: ${if (summary.isEmpty) "(none)" else summary}; shuffle exchanges: $exchanges\n\n")
      sb.append("```\n")
        .append(graft.ExplainAudit.dropInitialPlan(formatted).take(20000))
        .append("\n```\n")
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.writeString(p, sb.toString)
      println(s"wrote $p")
    }
    spark.stop()
  }
}
