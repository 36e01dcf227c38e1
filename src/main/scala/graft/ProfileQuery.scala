package graft

import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.util.control.NonFatal

/** Optimization-round measurement tool (guide §1): run ONE registered
  * query with the Bench session shape and print a per-job breakdown —
  * job wall time, stage task counts and task-time sums, and the first
  * line of each stage's name — so "where do q83's 1.9 s go" is a
  * measurement, not a guess. Not part of the driver contract; changes
  * nothing about Bench/Verify.
  *
  * Usage: runMain graft.ProfileQuery <queryName> [sfDir] [cpus] [reps]
  */
object ProfileQuery {

  private final case class StageRec(
      id: Int, name: String, tasks: Int, var taskTimeMs: Long, var durMs: Long,
      var gcMs: Long = 0L, var deserMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: ProfileQuery <q1,q2,...> [sfDir] [cpus] [reps]")).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(2).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val reps = args.lift(3).map(_.toInt).getOrElse(1)
    val builder = GraftSession.builder(s"local[$cpus]", cpus.toInt)
    // measurement escape hatch: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" lets a
    // profiling run A/B a conf without touching the engine sessions
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k.trim, v.trim)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.range(1000000L).selectExpr("sum(id) s").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").schema
    } catch { case NonFatal(_) => () }

    val jobs = mutable.LinkedHashMap.empty[Int, (String, Long)] // id -> (desc, startNs)
    val jobDur = mutable.LinkedHashMap.empty[Int, (String, Double)]
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    val jobStages = mutable.LinkedHashMap.empty[Int, Seq[Int]]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(js.jobId) = (desc, System.nanoTime())
        jobStages(js.jobId) = js.stageInfos.map(_.stageId)
        js.stageInfos.foreach { si =>
          // RDD scope names identify the plan operators this stage runs
          // (Exchange, WholeStageCodegen(i), mapPartitions sites...)
          val scopes = si.rddInfos.flatMap { r =>
            r.scope.map(_.name).orElse(Some(r.name))
          }.distinct.mkString("|")
          // SPARK_GRAFT_PROF_SITES=1: append the first graft frame of
          // the stage's creation stack — names WHICH engine call
          // produced each control-plane job (guide §7.3)
          val site =
            if (sys.env.contains("SPARK_GRAFT_PROF_SITES"))
              si.details.linesIterator.find(l => l.contains("graft.") &&
                !l.contains("ProfileQuery")).map(" @" + _.trim).getOrElse("")
            else ""
          stages(si.stageId) = StageRec(si.stageId, (scopes.take(160) + site).take(280), si.numTasks, 0L, 0L)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.get(je.jobId).foreach { case (desc, t0) =>
          jobDur(je.jobId) = (desc, (System.nanoTime() - t0) / 1e6)
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        stages.get(te.stageId).foreach { r =>
          if (te.taskMetrics != null) {
            r.taskTimeMs += te.taskMetrics.executorRunTime
            r.gcMs += te.taskMetrics.jvmGCTime
            r.deserMs += te.taskMetrics.executorDeserializeTime
          }
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.get(sc.stageInfo.stageId).foreach { r =>
          r.durMs = (for {
            a <- sc.stageInfo.completionTime; b <- sc.stageInfo.submissionTime
          } yield a - b).getOrElse(-1L)
        }
    }

    names.foreach { name =>
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    // warm-up exactly like Bench: one untimed execution
    graft.core.CacheHygiene.resetAll(spark)
    try fn(spark, sfDir).count() catch { case NonFatal(e) => println(s"WARMUP FAILED: $e") }
    (1 to reps).foreach { rep =>
      jobs.clear(); jobDur.clear(); stages.clear(); jobStages.clear()
      graft.core.CacheHygiene.resetAll(spark)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case NonFatal(e) => println(s"FAILED: $e") }
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"%n== $name rep $rep: total $total%.3f s, ${jobDur.size} jobs ==")
      jobDur.toSeq.sortBy(_._1).foreach { case (jid, (desc, ms)) =>
        val ss = jobStages.getOrElse(jid, Nil).flatMap(stages.get)
        val stageStr = ss.map(s => f"[${s.id}:${s.name.take(60)} t=${s.tasks} run=${s.taskTimeMs}ms]").mkString(" ")
        println(f"job $jid%3d ${ms / 1000.0}%8.3f s  ${desc.take(70)}%-70s $stageStr")
      }
      val topStages = stages.values.toSeq.sortBy(-_.taskTimeMs).take(12)
      println("-- top stages by summed task run time --")
      topStages.foreach(s => println(f"stage ${s.id}%4d  run=${s.taskTimeMs}%7d ms  gc=${s.gcMs}%6d ms  deser=${s.deserMs}%5d ms  wall=${s.durMs}%6d ms  tasks=${s.tasks}%4d  ${s.name.take(90)}"))
    }
    }
    spark.stop()
  }
}
