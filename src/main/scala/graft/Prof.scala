package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: attribute one query's wall time (optimization guide §1).
  *
  * Per query it prints, after a noop-sink run under [[GraftSession]]:
  * total wall seconds, every Spark job's duration with its call-site
  * (which action inside the query paid), and the LakeTable commit-path
  * timer profile (c.* / af.* labels). The gap between the job-sum and
  * the wall is driver-side work (planning, fs metadata, commit protocol
  * outside jobs).
  *
  * `SPARK_GRAFT_SAMPLE=tasks` (executor task threads) or `=driver` (the
  * query-driving thread) also stack-samples the run every 20 ms and
  * prints the hottest frames; unset = no sampler.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *        runMain graft.Prof <queryName> [queryName...]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt.max(1)
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession("graft-prof", cpus)
    // same warmup as Bench so the first profiled query is not charged
    // classloading + first codegen
    spark.range(1000000).selectExpr("sum(id) AS s", "count(*) AS n")
      .write.format("noop").mode("overwrite").save()

    // job-time attribution: description/callSite -> summed ms
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    // (stageName, nTasks, wallMs, executorRunTimeMs, executorCpuMs)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // prefer the graft op label; fall back to the action call site
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
        starts.put(e.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
          jobs.add(site -> (System.nanoTime() - t0))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(0L)
        stages.add((si.name, si.numTasks, wall,
          si.taskMetrics.executorRunTime,
          si.taskMetrics.executorCpuTime / 1000000L))
      }
    })

    val sampler = sys.env.get("SPARK_GRAFT_SAMPLE").map {
      case "driver" => new StackSampler(driver = true)
      case "tasks" => new StackSampler(driver = false)
      case m => sys.error(s"SPARK_GRAFT_SAMPLE=$m: expected driver or tasks")
    }

    import graft.lake.LakeTable.{timers, timersEnabled}
    import scala.jdk.CollectionConverters._
    names.foreach { n =>
      (1 to reps).foreach { rep =>
        jobs.clear(); stages.clear(); timers.clear(); timersEnabled.set(true)
        sampler.foreach(_.start())
        val t0 = System.nanoTime()
        try SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          println(s"[$n] FAILED: ${e.getMessage.take(300)}") }
        val wall = (System.nanoTime() - t0) / 1e9
        timersEnabled.set(false)
        sampler.foreach(_.stop())
        spark.catalog.clearCache()
        // let the async listener bus drain before reading the queues
        Thread.sleep(300)
        val bySite = jobs.asScala.toSeq.groupBy(_._1)
          .map { case (site, xs) =>
            (site, xs.size, xs.map(_._2).sum / 1e6) }
          .toSeq.sortBy(-_._3)
        val jobSum = bySite.map(_._3).sum / 1000.0
        println(f"\n===== $n rep$rep wall=$wall%.2f s, " +
          f"jobs=${jobs.size} ($jobSum%.2f s in jobs, " +
          f"${wall - jobSum}%.2f s driver-side) =====")
        bySite.take(30).foreach { case (site, cnt, ms) =>
          println(f"  $ms%9.1f ms  x$cnt%-4d $site") }
        val st = stages.asScala.toSeq
        val stWall = st.map(_._3).sum / 1000.0
        val stRun = st.map(_._4).sum / 1000.0
        val stCpu = st.map(_._5).sum / 1000.0
        println(f"  stages=${st.size} wall-sum=$stWall%.2f s " +
          f"taskRun-sum=$stRun%.2f s taskCpu-sum=$stCpu%.2f s; slowest:")
        st.sortBy(-_._5).take(12).foreach { case (nm, nt, w, r, c) =>
          println(f"    $c%6d ms cpu $w%6d ms wall $r%6d ms run  $nt%4d tasks  ${nm.take(60)}") }
        val prof = timers.asScala.toSeq
          .map { case (k, v) => k -> v.get / 1e6 }.sortBy(-_._2)
        if (prof.nonEmpty)
          println("  lake timers: " + prof.map { case (k, ms) =>
            f"$k=$ms%.0f ms" }.mkString(", "))
        sampler.foreach(_.report())
      }
    }
    spark.stop()
  }

  /** Stack sampler: every 20 ms while started, histograms the first
    * non-JDK/Scala frame of each RUNNABLE executor task thread (local
    * mode: "Executor task launch worker-*"), or of the thread that
    * built it when `driver`. */
  private final class StackSampler(driver: Boolean) {
    private val target = Thread.currentThread()
    private val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile private var on = false
    private val thread = new Thread(() => while (true) {
      if (on) Thread.getAllStackTraces.forEach { (t, stack) =>
        if ((if (driver) t eq target
             else t.getName.startsWith("Executor task launch")) &&
            t.getState == Thread.State.RUNNABLE && stack.nonEmpty) {
          val key = stack.take(24).find { f =>
              val c = f.getClassName
              !c.startsWith("java.") && !c.startsWith("jdk.") &&
                !c.startsWith("scala.") && !c.startsWith("sun.")
            }.getOrElse(stack.head).toString
          hist.merge(key, 1, (a, b) => a + b)
        }
      }
      Thread.sleep(20)
    })
    thread.setDaemon(true)
    thread.start()

    def start(): Unit = { hist.clear(); on = true }
    def stop(): Unit = on = false

    def report(): Unit = {
      import scala.jdk.CollectionConverters._
      val n = hist.asScala.values.map(_.intValue).sum
      println(s"  sampler: $n samples of RUNNABLE " +
        (if (driver) "driver" else "task") + " threads; hottest:")
      hist.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (f, c) =>
        println(f"    ${c.intValue * 100.0 / n}%5.1f%% $f") }
    }
  }
}
