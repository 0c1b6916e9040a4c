package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Measurement tool: Spark JOB counts per registered query —
  * `runMain graft.tools.JobCount <sfDir> <query> [query ...]`.
  *
  * Iterative operators (the CC loops, the versioned-lifecycle chains)
  * spend a fixed scheduling cost per job, so "how many jobs does one
  * query submit" is the direct evidence for the r16 job-diet work
  * (lazy-checkpoint convergence piggyback, fused lifecycle probes) —
  * bench seconds alone can't distinguish fewer jobs from faster tasks.
  * Runs each query once warm (construction included, since lifecycle
  * queries submit jobs while building), then counts jobs across a fresh
  * construction + full-output execution. Runs on Bench's session
  * (`GraftSession.get` at local[$SPARK_GRAFT_CPUS]) so counts match bench
  * conditions.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    graft.functions.PortableHash.pin(fast = false)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: JobCount <sfDir> <query> [query ...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.get(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt, appName = "graft-job-count")
    val counter = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    })
    def runOnce(name: String): Long = {
      val before = counter.get()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.toRdd.count()
      // listener events post asynchronously: drain the bus before reading
      org.apache.spark.graft.ListenerBusHook.waitUntilEmpty(spark.sparkContext)
      counter.get() - before
    }
    val out = names.map { n =>
      runOnce(n) // warm (JIT + parquet footers); lifecycle dirs are fresh per run
      val jobs = runOnce(n)
      s""""$n":$jobs"""
    }
    spark.stop()
    println(out.mkString("{", ",", "}"))
  }
}
