package graft

/** Round-6 measurement harness (guide §1: measure first, noop sink, labeled
  * jobs) — SEPARATE from the frozen [[Bench]] protocol. Times a chosen set of
  * SparkEntry queries solo, best/median of `reps`, with the exact session
  * shape the per-round bench uses (local[N], shuffle.partitions=N, AQE,
  * warmed table families, cache cleared between runs).
  *
  *   sbt "runMain graft.BenchExtra [q1,q2,...|all] [reps]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
  * (default 32). Prints one JSON line {"queries":{name:[s,...]}, "min":{...}}.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val names =
      if (args.isEmpty || args(0) == "all") Bench.headline else args(0).split(",").toSeq
    val reps  = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Bench.session(cpus, "graft-bench-extra")
    // per-rep scheduling-volume telemetry: jobs/stages/tasks + summed task
    // time — separates "the engine did more work" from "the box was noisy"
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        // per-stage breakdown (GRAFT_BENCHX_STAGES=1): run time vs task count
        // localizes which stage of a multi-stage query owns the task_ms
        if (sys.env.contains("GRAFT_BENCHX_STAGES")) {
          val si = s.stageInfo
          val tm = si.taskMetrics
          System.err.println(f"[benchx-stage] id=${si.stageId} tasks=${si.numTasks} " +
            f"run_ms=${if (tm != null) tm.executorRunTime else -1L} " +
            f"cpu_ms=${if (tm != null) tm.executorCpuTime / 1000000 else -1L} " +
            f"gc_ms=${if (tm != null) tm.jvmGCTime else -1L} " +
            f"deser_ms=${if (tm != null) tm.executorDeserializeTime else -1L} " +
            f"sr_mb=${if (tm != null) tm.shuffleReadMetrics.totalBytesRead / 1e6 else -1.0}%.1f " +
            f"sw_mb=${if (tm != null) tm.shuffleWriteMetrics.bytesWritten / 1e6 else -1.0}%.1f " +
            s"name=${si.name.takeWhile(_ != '\n').take(80)}")
        }
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    Bench.warm(spark, sfDir)
    val samples = names.map { name =>
      val fn = SparkEntry.queries(name)
      val ts = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$name rep$i")
        val (j0, s0, t0n, tm0) = (jobs.get, stages.get, tasks.get, taskMs.get)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[benchx] $name failed: $e") }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.err.println(f"[benchx-sched] $name rep$i sec=$sec%.3f " +
          s"jobs=${jobs.get - j0} stages=${stages.get - s0} " +
          s"tasks=${tasks.get - t0n} task_ms=${taskMs.get - tm0}")
        sec
      }
      spark.sparkContext.setJobDescription(null)
      name -> ts
    }
    spark.stop()
    val qs = samples.map { case (k, ts) =>
      s""""$k":[${ts.map(t => f"$t%.3f").mkString(",")}]"""
    }.mkString("{", ",", "}")
    val mins = samples.map { case (k, ts) => f""""$k":${ts.min}%.3f""" }
      .mkString("{", ",", "}")
    val totalMin = samples.map(_._2.min).sum
    println(s"""{"benchx":{"sf":"$sfDir","cpus":$cpus,"reps":$reps,""" +
      f""""total_min":$totalMin%.3f,"min":$mins,"samples":$qs}}""")
  }
}
