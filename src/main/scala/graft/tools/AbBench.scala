package graft.tools

/** Interleaved conf A/B over registered queries —
  * `runMain graft.tools.AbBench <sfDir> <reps> <key=value[;key=value]> <query> [query ...]`.
  *
  * Suite-level bench runs carry ±20–30 % per-query noise from JIT and
  * scheduler state (the r15 lesson), far above what a single-conf change
  * moves — so conf decisions are made HERE: base and override runs
  * alternate inside one JVM, per rep, per query, and the medians compare
  * under identical warm state. The conf is set via spark.conf (runtime
  * SQLConf) around each run and restored after, so the only difference
  * between the two arms is the conf under test.
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    graft.functions.PortableHash.pin(fast = false)
    require(args.length >= 4,
      "usage: AbBench <sfDir> <reps> <key=value[;key=value]> <query> [query ...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    val overrides = args(2).split(";").map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.get(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt, appName = "graft-ab-bench")
    val saved = overrides.map { case (k, _) =>
      (k, spark.conf.getOption(k)) }
    def setMode(on: Boolean): Unit = overrides.foreach { case (k, v) =>
      if (on) spark.conf.set(k, v)
      else saved.toMap.apply(k) match {
        case Some(sv) => spark.conf.set(k, sv)
        case None => spark.conf.unset(k)
      }
    }
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // warm every query under both modes
    names.foreach { n => setMode(false); run(n); setMode(true); run(n) }
    val res = scala.collection.mutable.Map
      .empty[(String, Boolean), List[Double]].withDefaultValue(Nil)
    for (_ <- 1 to reps; n <- names; on <- Seq(false, true)) {
      setMode(on)
      res((n, on)) :+= run(n)
    }
    setMode(false)
    def med(xs: List[Double]) = xs.sorted.apply(xs.size / 2)
    val out = names.flatMap { n =>
      Seq(false, true).map { on =>
        val xs = res((n, on))
        f""""$n-${if (on) "override" else "base"}":{"median":${med(xs)}%.3f,"all":[${xs.map(x => f"$x%.3f").mkString(",")}]}"""
      }
    }
    spark.stop()
    println(out.mkString("{", ",", "}"))
  }
}
