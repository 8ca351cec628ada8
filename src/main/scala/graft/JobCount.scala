package graft

/** Dev tool: per-entry Spark job/stage/task
  * census — the duplicate-action detector the optimization rounds
  * sweep with. One warm uncounted pass, then one counted pass; call
  * from a spark-shell session with the library on the classpath:
  *   graft.JobCount.run(Seq("eng_pagerank", ...), sfDir)
  * High job counts are not automatically waste: AQE materializes one
  * job per query stage, so protocol entries legitimately run many —
  * compare against the entry's known step structure. Counts are read
  * after the listener bus has drained, so every job of the entry is
  * in them. */
object JobCount {
  /** Prints one census line per entry and returns (entry, jobs). */
  def run(names: Seq[String], dir: String): Seq[(String, Int)] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks); ()
      }
    }
    sc.addSparkListener(listener)
    try names.map { n =>
      // warm pass not counted
      fns(n)(spark, dir).write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.graftshim.BusDrain.drain(sc)
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      fns(n)(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftshim.BusDrain.drain(sc)
      println(f"[jobcount] $n%-28s ${dt}%7.3f s  jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%5d")
      n -> jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
