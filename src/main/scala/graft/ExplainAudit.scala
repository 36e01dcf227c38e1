package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** Plan audit: dumps `explain(formatted)` for representative queries
  * and greps the physical plan for the properties the engine is
  * designed around — parquet filter/column pushdown, whole-stage
  * codegen coverage, broadcast joins for dimensions, single-exchange
  * aggregation. Output -> PLANS.md (reviewed artifact).
  *
  * Usage: runMain graft.ExplainAudit [sfDir] [outFile]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.builder("local[4]", 4)
      // audit output: don't elide wide schemas/field lists in dumps
      .config("spark.sql.debug.maxToStringFields", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // EVERY registered query, in numeric order — a plan the audit
    // skips is a plan nobody has reviewed.
    val audited = SparkEntry.queries.keys.toSeq
      .sortBy(n => "[0-9]+".r.findFirstIn(n).map(_.toInt).getOrElse(0))

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.ExplainAudit)\n\n")
    sb.append("Checks per query: parquet `PushedFilters`, pruned `ReadSchema`,\n")
    sb.append("`WholeStageCodegen` spans, join strategies, exchange count.\n\n")

    audited.foreach { name =>
      // Cross-query isolation, same reason as Bench.resetState: a
      // predecessor that persists (q36's pipeline context) leaves an
      // InMemoryRelation the cache manager substitutes into LATER
      // plans, so the audit would show an InMemoryTableScan where the
      // standalone — i.e. 100 TB — plan has a parquet scan with
      // pushdown. Audit each query's own plan, not the warmed one.
      graft.core.CacheHygiene.resetAll(spark)
      val df = SparkEntry.queries(name)(spark, sfDir)
      val qe: QueryExecution = df.queryExecution
      // Materialize first: under AQE the pre-execution plan reports no
      // codegen spans and provisional exchanges — the FINAL plan is
      // the one worth auditing. Through qe.toRdd, NOT df.foreach:
      // Dataset actions route through a separate rddQueryExecution
      // (deserializer plan), which would leave THIS qe un-finalized —
      // the audit would silently report the initial AQE plan.
      qe.toRdd.foreach(_ => ())
      val formatted = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      // The formatted dump above is the AQE INITIAL plan (good for
      // PushedFilters/ReadSchema review, which AQE never changes) —
      // codegen collapse and exchange placement only exist on the
      // finalized per-stage plans, so features are detected by
      // TRAVERSING the final tree, not by grepping the initial string
      // (which under-reported codegen to "(none)" for every AQE query).
      val all = allNodes(qe.executedPlan)
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
      sb.append(s"## $name\n\n")
      sb.append(s"- features: ${if (summary.isEmpty) "(none)" else summary}; shuffle exchanges: $exchanges\n\n")
      sb.append("```\n").append(dropInitialPlan(formatted).take(10000)).append("\n```\n\n")
    }
    sb.append(connectorSection(spark))
    sb.append(skewSection(spark))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }

  /** A finalized AQE formatted explain prints the final plan tree AND
    * the initial plan tree; the initial one is pre-optimization noise
    * that eats the dump budget, so drop that subtree (the lines from
    * `== Initial Plan ==` to the end of the tree block).
    */
  private[graft] def dropInitialPlan(formatted: String): String = {
    val lines = formatted.linesIterator.toVector
    val start = lines.indexWhere(_.contains("== Initial Plan =="))
    if (start < 0) formatted
    else {
      val end = lines.indexWhere(_.trim.isEmpty, start)
      val stop = if (end < 0) lines.length else end
      (lines.take(start) ++ lines.drop(stop)).mkString("\n")
    }
  }

  /** Every node of the FINAL physical plan: AQE roots resolve to
    * their executed plan, materialized query stages to their
    * per-stage plan (where codegen collapse and the real exchanges
    * live), and subquery plans are included.
    */
  private[graft] def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val inner: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(allNodes)
  }

  /** Connector-pushdown evidence: the adxlike DSv2 source against
    * in-JVM Derby, showing (a) a pushed GROUP BY aggregate and (b) a
    * pushed top-N — both in the scan's plan description AND as the
    * literal remote query text the reader executed. This is the
    * automatic counterpart of the reference's hand-written
    * `summarize`/`top` pushdown discipline
    * (reference: src/plugins/README.md:33-38).
    */
  private def connectorSection(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val sb = new StringBuilder
    val url = "jdbc:derby:memory:plansaudit;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE readings") catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE readings (id BIGINT, device VARCHAR(16), temp DOUBLE)")
      (1 to 100).foreach(i =>
        st.execute(s"INSERT INTO readings VALUES ($i, 'dev${i % 3}', ${i * 0.5})"))
      st.close()
    } finally conn.close()
    def reading = spark.read.format("adxlike")
      .option("url", url).option("table", "readings").load()

    val aggQ = reading.filter(col("temp") > 5.0).groupBy("device")
      .agg(count(lit(1)).as("n"), sum("id").as("sum_id"))
    aggQ.collect()
    val aggRemote = graft.sources.AdxLike.lastQuery
    val aggPlan = aggQ.queryExecution.executedPlan.toString

    val topQ = reading.orderBy(col("temp").desc).limit(5).select("id", "temp")
    topQ.collect()
    val topRemote = graft.sources.AdxLike.lastQuery
    val topPlan = topQ.queryExecution.executedPlan.toString

    val conn2 = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn2.createStatement()
      try st.execute("DROP TABLE refs") catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE refs (rid BIGINT, score DOUBLE)")
      (1 to 100 by 7).foreach(i => st.execute(s"INSERT INTO refs VALUES ($i, ${i * 1.5})"))
      st.close()
    } finally conn2.close()
    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    val (joinRemote, joinPlan) =
      try {
        val refs = spark.read.format("adxlike")
          .option("url", url).option("table", "refs").load()
        val a = reading
        val jq = a.filter(col("temp") > 5.0).join(refs, a("id") === refs("rid"))
          .groupBy(a("device")).agg(sum(col("score")).as("s"))
        jq.collect()
        (graft.sources.AdxLike.lastQuery, jq.queryExecution.executedPlan.toString)
      } finally spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")

    sb.append("## adxlike connector: pushed aggregation and top-N\n\n")
    sb.append("### pushed GROUP BY aggregate\n\n")
    sb.append(s"- remote query executed: `$aggRemote`\n")
    sb.append(s"- plan advertises PushedAggregates: ${aggPlan.contains("PushedAggregates")}\n\n")
    sb.append("```\n").append(aggPlan.take(3000)).append("\n```\n\n")
    sb.append("### pushed top-N (ORDER BY ... FETCH FIRST)\n\n")
    sb.append(s"- remote query executed: `$topRemote`\n")
    sb.append(s"- plan advertises PushedTopN: ${topPlan.contains("PushedTopN")}\n\n")
    sb.append("```\n").append(topPlan.take(3000)).append("\n```\n\n")
    sb.append("### pushed join + aggregate (one remote query, no Spark join)\n\n")
    sb.append(s"- remote query executed: `$joinRemote`\n")
    sb.append(s"- plan has a single scan and no Spark join: ${
      "BatchScan".r.findAllIn(joinPlan).size == 1 && !joinPlan.contains("Join")}\n\n")
    sb.append("```\n").append(joinPlan.take(3000)).append("\n```\n\n")
    sb.toString
  }

  /** Skew-mitigation evidence: the SAME hot-key join (one key holding
    * 90% of a 2 M-row fact side) executed (a) under AQE, showing the
    * runtime `OptimizeSkewedJoin` split in the final adaptive plan
    * (`skew=true` on the sort-merge join), and (b) through the
    * explicit planner-independent [[graft.ops.Skew.saltedJoin]],
    * showing the join key widened to (key, __salt). Both runs return
    * identical row counts — mitigation changes distribution, never
    * results.
    */
  private def skewSection(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val sb = new StringBuilder
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption)
    try {
      // 90% of fact rows share key 0; dim is tiny but broadcast is
      // disabled so the join MUST shuffle on the hot key — the shape
      // AQE's OptimizeSkewedJoin and salting both exist for.
      val fact = spark.range(2000000L)
        .select(
          when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 100).as("key"),
          col("id").as("v"))
      val dim = spark.range(100L).select(col("id").as("key"), (col("id") * 7).as("w"))

      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
      val aqe = fact.join(dim, "key")
      val aqeCount = aqe.count()
      // execute THIS DataFrame's own adaptive plan to finality —
      // count() spawns a separate query execution, so without this
      // the captured plan would still read isFinalPlan=false with no
      // runtime skew split
      aqe.queryExecution.toRdd.foreachPartition(_ => ())
      val aqePlan = aqe.queryExecution.executedPlan.toString

      conf.set("spark.sql.adaptive.enabled", "false")
      val salted = graft.ops.Skew.saltedJoin(fact, dim, Seq("key"), saltFactor = 16, saltFrom = Seq("v"))
      val saltedCount = salted.count()
      val saltedPlan = salted.queryExecution.executedPlan.toString

      sb.append("## skew mitigation: AQE OptimizeSkewedJoin vs explicit salting\n\n")
      sb.append(s"- fixture: 2,000,000-row fact, ONE key = 90% of rows; broadcast disabled\n")
      sb.append(s"- row counts agree: aqe=$aqeCount salted=$saltedCount\n")
      sb.append(s"- AQE final plan marks the skewed sort-merge join " +
        s"(`skew=true` present: ${aqePlan.contains("skew=true")}); salted plan joins on " +
        s"(key, __salt) spreading the hot key over 16 buckets\n\n")
      sb.append("### AQE runtime plan (final, post-OptimizeSkewedJoin)\n\n")
      sb.append("```\n").append(aqePlan.take(4000)).append("\n```\n\n")
      sb.append("### salted join plan (planner-independent)\n\n")
      sb.append("```\n").append(saltedPlan.take(4000)).append("\n```\n\n")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    sb.toString
  }
}
