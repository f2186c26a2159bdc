package graft.tools

/** Scratch probe: time one named query at SPARK_GRAFT_SF_DIR.
  * Times through the noop sink like Bench — `.count()` lets Catalyst
  * prune the very transforms a profiling run wants to see (the
  * round-14 lesson); the row count is taken separately, untimed.
  *
  * r19: mirrors Bench's per-query protocol exactly — each query runs
  * inside ONE CacheScope holding an untimed warmup pass (which
  * materializes operator-internal persists, exactly as the bench of
  * record does) followed by two timed passes (plus a third, median
  * reported, when min-of-2 is under 3 s). Without the scope+warmup,
  * a probe of a persisting query times the CACHE BUILD and leaks the
  * cache into every later probe in the JVM — the numbers stop
  * predicting Bench.
  *
  * Jobs per pass are counted by a listener on `onJobStart`, registered
  * once for the session. The status tracker is not a counter: it keeps
  * only the jobs its store still retains (about the last 1,000), so a
  * difference of its lengths goes wrong once a JVM has run that many.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get("probe")
    val jobsStarted = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobsStarted.incrementAndGet()
    })
    def jobs(): Long = {
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      jobsStarted.get
    }
    var dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (name <- args) {
      // `dir=<path>` switches the active data dir mid-run, so a multi-
      // scale probe session keeps ONE warm JVM across every dir —
      // per-dir JVM restarts put codegen/JIT warmup into the first
      // dir's passes and fake a flattened scaling curve.
      if (name.startsWith("dir=")) {
        dir = name.substring(4)
        println(s"[probe] dir -> $dir")
      } else {
        val fn = graft.SparkEntry.queries(name)
        graft.CacheScope.scoped {
          def onePass(): Double = {
            val t0 = System.nanoTime()
            fn(spark, dir).write.mode("overwrite").format("noop").save()
            (System.nanoTime() - t0) / 1e9
          }
          onePass() // warmup: codegen + operator-internal cache builds
          // Spark-job count of ONE timed pass (r20): driver-loop folds
          // (convergence probe riding the materializing count) change
          // job counts by construction but drown in ±60% wall-clock
          // noise — the job count is the noise-free receipt.
          val jobsBefore = jobs()
          val two = Seq(onePass(), onePass())
          val jobsPerPass = (jobs() - jobsBefore) / 2
          val dt =
            if (two.min >= 3.0) two.min
            else (two :+ onePass()).sorted.apply(1)
          val n = fn(spark, dir).count()
          println(f"[probe] $name: $n rows in $dt%.2f s, $jobsPerPass jobs/pass " +
            f"(bench protocol: warm, ${if (two.min >= 3.0) "min-of-2" else "median-of-3"})")
        }
      }
    }
    spark.stop()
  }
}
