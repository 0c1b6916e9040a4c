package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

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
  * construction + full-output execution. Uses the Bench session shape
  * (local[$SPARK_GRAFT_CPUS], AQE on) so counts match bench conditions.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    graft.functions.PortableHash.pin(fast = false)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: JobCount <sfDir> <query> [query ...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counter = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    })
    def runOnce(name: String): Long = {
      val before = counter.get()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.toRdd.count()
      // listener events post asynchronously; give the bus a beat to drain
      // (measurement tool — a fixed settle beats private-API bus access)
      Thread.sleep(500)
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
