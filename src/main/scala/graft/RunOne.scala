package graft

/** Dev helper: run one catalog query, print rowcount, time, and plan.
  * Usage: tools/run.sh graft.RunOne <query> [sfDir] [--explain] */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1 && !args(1).startsWith("--")) args(1)
      else "/root/testdata/sf0.01"
    val spark = Sessions.local()
    if (args.contains("--stages")) {
      // floor in ms below which a stage is not printed; GRAFT_STAGE_MS=0
      // shows every stage (overhead-dominated queries are many small stages)
      val floorMs = sys.env.getOrElse("GRAFT_STAGE_MS", "500").toLong
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
          val tm = si.taskMetrics
          if (ms >= floorMs)
            System.err.println(f"[stage ${si.stageId}%4d] ${ms / 1000.0}%7.1fs " +
              f"tasks=${si.numTasks}%3d cpu=${tm.executorCpuTime / 1e9}%6.1fs " +
              f"run=${tm.executorRunTime / 1e3}%6.1fs " +
              f"deser=${tm.executorDeserializeTime / 1e3}%5.1fs " +
              f"gc=${tm.jvmGCTime / 1e3}%5.1fs " +
              f"sRead=${tm.shuffleReadMetrics.recordsRead}%8d " +
              f"sWrite=${tm.shuffleWriteMetrics.recordsWritten}%8d " +
              f"in=${tm.inputMetrics.recordsRead}%8d  ${si.name.take(70)}")
        }
      })
    }
    // per-run totals from the listener: executor CPU is steal/contention-
    // resistant where wall time on a shared host is not — use it (plus the
    // stage count) as the primary optimization signal
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val runNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val stageN = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        cpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
        runNs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime * 1000000L)
        stageN.incrementAndGet()
      }
    })
    val times = args.sliding(2).collectFirst {
      case Array("--times", n) => n.toInt }.getOrElse(1)
    (1 to times).foreach { i =>
      val t0 = System.nanoTime()
      cpuNs.set(0L); runNs.set(0L); stageN.set(0L)
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (i == 1 && args.contains("--explain")) df.explain("formatted")
      val n = df.count()
      // listener events are async; give the bus a moment before reading
      Thread.sleep(300)
      println(f"$name[$i]: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"cpu=${cpuNs.get / 1e9}%.1f s run=${runNs.get / 1e9}%.1f s " +
        f"stages=${stageN.get}")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
