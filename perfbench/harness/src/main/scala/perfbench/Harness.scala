package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, TextFns}

/** Closed-loop benchmark client: one thread in one JVM issues the
  * workload's operations back to back and times each one from outside
  * the engine, around calls to each layer's public functions.
  *
  * Usage: `Harness <spec.tsv> <out dir> <seconds> <trace 0|1> <cores> <seed>`.
  *
  * The spec has one operation per line, `kind <TAB> name <TAB> input <TAB>
  * table`: kind `query` runs the registered query `name` over the table
  * directory `input`; kind `triangles` runs `GraphOps.trianglesAuto` over
  * the edge-list file `input`. `table` names the table the operation
  * scans (the source probe of a traced run materializes it on its own).
  *
  * One untimed warm-up pass runs first, on the same path as a timed
  * execution; `setup_s` ends with it. Whole timed passes, each in a
  * seed-shuffled order, then repeat until `seconds` have elapsed. After
  * the loop each operation's output is written under `<out>/ref/`, to be
  * checked against DuckDB once the JVM exits. Every timed execution
  * carries a row count and an order-independent digest of its output
  * rows, which must equal the digest of that reference copy.
  *
  * With trace 1 a [[Recorder]] listener attributes jobs, stages and
  * task metrics to each operation phase through job groups, spans are
  * kept in memory and written to `<out>/spans.jsonl` at the end, and
  * the source and function probes run after the loop. Everything is
  * written to `<out>/result.json`; `run.py` turns it into metrics.
  */
object Harness extends AdaptiveSparkPlanHelper {

  final case class Op(idx: Int, kind: String, name: String, input: String, table: String)

  /** One recorded interval at a layer boundary. */
  final case class Span(op: Int, pass: Int, layer: String, name: String,
      startMs: Long, endMs: Long, parent: String)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(specPath, outDir, secondsArg, traceArg, coresArg, seedArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val out = Paths.get(outDir)
    val ops = Files.readAllLines(Paths.get(specPath)).asScala
      .filter(_.trim.nonEmpty).zipWithIndex.map { case (l, i) =>
        val f = l.split("\t")
        Op(i, f(0), f(1), f(2), f(3))
      }.toVector
    val loadStart = loadAvg()
    PortableHash.pin(fast = false) // md5, the protocol the oracle shares

    val spans = mutable.ArrayBuffer.empty[Span]
    def span[T](op: Int, pass: Int, layer: String, name: String, parent: String)(body: => T): T = {
      val t0 = System.currentTimeMillis()
      try body
      finally if (traced) spans += Span(op, pass, layer, name, t0, System.currentTimeMillis(), parent)
    }

    val tSession = System.nanoTime()
    val spark = span(-1, -1, "session", "GraftSession.get", "") {
      graft.GraftSession.get(master = s"local[$cores]")
    }
    val sessionBuildS = (System.nanoTime() - tSession) / 1e9
    System.err.println(f"perfbench: session ready at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s")
    val sc = spark.sparkContext
    val recorder = if (traced) Some(new Recorder) else None
    recorder.foreach(sc.addSparkListener)
    def group(g: String): Unit = if (traced) sc.setJobGroup(g, g)

    // ---- one operation: construct, plan, execute (full output) ----------
    final case class Exec(latencyS: Double, rows: Long, digest: Long,
        constructS: Double, planS: Double, execS: Double,
        shape: (Int, Int, Int), error: String)

    // the last DataFrame built per operation, written out after the loop
    val built = mutable.Map.empty[Int, DataFrame]

    def runOp(op: Op, pass: Int): Exec = {
      val tag = s"op${op.idx}.p$pass"
      val t0 = System.nanoTime()
      var t1, t2 = t0
      try {
        group(s"$tag.construct")
        val df = span(op.idx, pass, "operators", "construct", "op") { build(spark, op) }
        built(op.idx) = df
        t1 = System.nanoTime()
        group(s"$tag.plan")
        span(op.idx, pass, "plans", "executedPlan", "op") { df.queryExecution.executedPlan }
        t2 = System.nanoTime()
        group(s"$tag.execute")
        val (rows, digest) = span(op.idx, pass, "spark", "execute", "op") { evaluate(df) }
        val t3 = System.nanoTime()
        Exec((t3 - t0) / 1e9, rows, digest, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          (t3 - t2) / 1e9, planShape(df), "")
      } catch {
        case e: Throwable =>
          val t3 = System.nanoTime()
          Exec((t3 - t0) / 1e9, -1, 0, 0, 0, 0, (0, 0, 0),
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally if (traced) sc.clearJobGroup()
    }

    // ---- warm-up pass: untimed, the same path as a timed execution -----
    ops.foreach { op =>
      val e = runOp(op, -1)
      System.err.println(f"perfbench: warm-up ${op.name} done at " +
        f"${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s ${e.error}")
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.gc() // the timed passes start from the same heap state every run

    // ---- measured closed loop: whole passes until `seconds` elapse -----
    val execs = mutable.ArrayBuffer.empty[(Int, Int, Exec, Long, Long, Long, Long)]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val loopStart = System.nanoTime()
    var pass = 0
    while (pass == 0 || ((System.nanoTime() - loopStart) / 1e9 < seconds && pass < 1000)) {
      val p0 = System.nanoTime()
      // the warm-up runs in spec order; timed passes in a seeded order
      new scala.util.Random(seedArg.toLong * 1000 + pass).shuffle(ops).foreach { op =>
        val startMs = System.currentTimeMillis()
        val e = span(op.idx, pass, "op", op.name, "pass") { runOp(op, pass) }
        val endMs = System.currentTimeMillis()
        val (files, bytes) = artifactFootprint(op)
        execs += ((op.idx, pass, e, startMs, endMs, files, bytes))
      }
      passWalls += (System.nanoTime() - p0) / 1e9
      pass += 1
    }

    val peakRss = peakRssMb() // before the probes and the reference writes

    // ---- probes of single layers (traced only, after the loop) ---------
    val probes = mutable.Map.empty[String, Double]
    if (traced) {
      def median3(name: String)(body: => Unit): Double = {
        val ts = (0 until 3).map { i =>
          group(s"probe.$name")
          val t0 = System.currentTimeMillis()
          body
          val t1 = System.currentTimeMillis()
          spans += Span(-1, -1, name.takeWhile(_ != '.'), name, t0, t1, "probe")
          (t1 - t0) / 1e3
        }.sorted
        sc.clearJobGroup()
        ts(1)
      }
      // one probe per distinct input, named after the first op reading it
      ops.groupBy(o => (o.input, o.table)).values.map(_.head).foreach { op =>
        probes(s"sources.scan.op${op.idx}") = median3(s"sources.scan.op${op.idx}") {
          evaluate(source(spark, op))
        }
      }
      ops.find(o => o.table == "documents").foreach { op =>
        val docs = source(spark, op)
        probes("functions.tokens") = median3("functions.tokens") {
          evaluate(docs.select(TextFns.tokens(col("text")).as("t")))
        }
        probes("functions.minhash") = median3("functions.minhash") {
          val hs = docs.select(transform(TextFns.tokens(col("text")),
            t => PortableHash.baseHash(t)).as("hs"))
          evaluate(hs.select((0 until PortableHash.K).map(k =>
            array_min(transform(col("hs"), h => PortableHash.minhash(h, k))).as(s"m$k")): _*))
        }
      }
      org.apache.spark.graft.ListenerBusHook.waitUntilEmpty(sc)
    }
    // ---- reference outputs: written for the DuckDB check, after timing --
    // Every timed execution must match the digest of this written copy of
    // the operation's last timed DataFrame.
    val reference = mutable.Map.empty[Int, (Long, Long)]
    val refChecks = mutable.Map.empty[Int, String]
    ops.foreach { op =>
      val dir = out.resolve("ref").resolve(s"op${op.idx}").toString
      try {
        group(s"ref.op${op.idx}")
        built.getOrElse(op.idx, build(spark, op)).write.mode("overwrite").parquet(dir)
        val back = spark.read.parquet(dir)
        reference(op.idx) = evaluate(back)
        refChecks(op.idx) = if (op.kind == "triangles") checksums(back) else "parquet"
      } catch {
        case t: Throwable => refChecks(op.idx) = s"error: ${t.getClass.getName}: ${t.getMessage}"
      } finally if (traced) sc.clearJobGroup()
    }
    val loadEnd = loadAvg()
    val conf = spark.conf
    val context = Map(
      "cores" -> cores.toString,
      "master" -> sc.master,
      "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "PortableHash.fastHash" -> PortableHash.fastHash.toString,
      "spark.version" -> spark.version,
      "java.version" -> sys.props.getOrElse("java.version", "?"),
      "java.vm" -> sys.props.getOrElse("java.vm.name", "?"),
      "load_start" -> loadStart,
      "load_end" -> loadEnd)

    val json = new StringBuilder("{")
    json ++= s""""setup_s":$setupS,"session_build_s":$sessionBuildS,"""
    json ++= s""""peak_rss_mb":$peakRss,"""
    json ++= s""""context":${obj(context.map { case (k, v) => k -> str(v) })},"""
    json ++= s""""ops":[${ops.map(o => obj(Map("idx" -> o.idx.toString, "kind" -> str(o.kind),
      "name" -> str(o.name), "table" -> str(o.table), "reference" -> str(refChecks.getOrElse(o.idx, "")),
      "rows" -> reference.get(o.idx).map(_._1).getOrElse(-1L).toString,
      "sql" -> str(if (o.kind == "query") graft.SparkEntry.oracleSql.getOrElse(o.name, "") else "")))
      ).mkString(",")}],"""
    json ++= s""""pass_wall_s":[${passWalls.mkString(",")}],"""
    json ++= s""""probes":${obj(probes.map { case (k, v) => k -> v.toString }.toMap)},"""
    val execJson = execs.map { case (idx, p, e, s0, s1, files, bytes) =>
      val ok = e.error.isEmpty && reference.get(idx).contains((e.rows, e.digest))
      val base = Map("op" -> idx.toString, "pass" -> p.toString, "latency_s" -> e.latencyS.toString,
        "ok" -> ok.toString, "rows" -> e.rows.toString, "error" -> str(e.error),
        "construct_s" -> e.constructS.toString, "plan_s" -> e.planS.toString,
        "exec_s" -> e.execS.toString, "exchanges" -> e.shape._1.toString,
        "joins" -> e.shape._2.toString, "broadcasts" -> e.shape._3.toString,
        "live_files" -> files.toString, "live_bytes" -> bytes.toString)
      val listener = recorder.map(_.opStats(s"op$idx.p$p", s0, s1)).getOrElse(Map.empty)
      obj(base ++ listener.map { case (k, v) => k -> v.toString })
    }
    json ++= s""""execs":[${execJson.mkString(",")}]"""
    recorder.foreach { r =>
      json ++= s""","probe_stats":${obj(probes.keys.map(k => k -> obj(r.groupStats(s"probe.$k")
        .map { case (a, b) => a -> b.toString }.toMap)).toMap)}"""
    }
    json ++= "}"
    Files.createDirectories(out)
    Files.write(out.resolve("result.json"), json.toString.getBytes("UTF-8"))
    if (traced) {
      val lines = spans.map(s => obj(Map("op" -> s.op.toString, "pass" -> s.pass.toString,
        "layer" -> str(s.layer), "name" -> str(s.name), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "parent" -> str(s.parent))))
      Files.write(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }

  /** The operation's DataFrame: the builder call, nothing evaluated by us. */
  private def build(spark: SparkSession, op: Op): DataFrame = op.kind match {
    case "query" => graft.SparkEntry.queries(op.name)(spark, op.input)
    case "triangles" =>
      graft.operators.GraphOps.trianglesAuto(graft.sources.EdgeList.read(spark, op.input))
    case k => throw new IllegalArgumentException(s"unknown operation kind $k")
  }

  /** The table the operation scans, loaded the way its builder loads it. */
  private def source(spark: SparkSession, op: Op): DataFrame = op.kind match {
    case "triangles" => graft.sources.EdgeList.read(spark, op.input)
    case _ => graft.Tables.load(spark, op.input, op.table)
  }

  /** Evaluate every output row and column (like `Bench.exec`) and fold
    * them into a row count and an order-independent digest. */
  def evaluate(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r => n += 1; h += proj(r).hashCode() }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }

  /** Row count and arithmetic checksums of a triangle list `(a, b, c)`,
    * reproduced by the DuckDB triangle query in oracle.py. */
  private def checksums(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(col("a")), sum(col("b")), sum(col("c")),
      sum(pmod(col("a") * 7919L + col("b") * 104729L + col("c"), lit(1000000007L)))).head()
    (0 until 5).map(i => if (r.isNullAt(i)) "0" else r.get(i).toString).mkString(" ")
  }

  /** Exchanges, joins and broadcasts in the final (post-AQE) plan. */
  private def planShape(df: DataFrame): (Int, Int, Int) = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    (collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size,
      collectWithSubqueries(plan) { case j: BaseJoinExec => j }.size,
      collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size)
  }

  /** Files and bytes under the operation's artifact directory. */
  private def artifactFootprint(op: Op): (Long, Long) = {
    val tmp = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val pid = ProcessHandle.current().pid()
    val user = sys.props.getOrElse("user.name", "")
    val dir = tmp.resolve(s"graft_$user-$pid").resolve(op.name.takeWhile(_ != '_'))
    if (!Files.isDirectory(dir)) (0L, 0L)
    else {
      val walk = Files.walk(dir)
      try {
        val files = walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector
        (files.size.toLong, files.map(Files.size).sum)
      } finally walk.close()
    }
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "" }

  private def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Attributes Spark's scheduler events to job groups (`op<i>.p<pass>.<phase>`
  * or `probe.<name>`): jobs, stages, tasks and task metrics, plus each
  * job's wall interval for the driver-gap computation. */
final class Recorder extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks, taskFailures = 0L
    var runMs, gcMs, fetchWaitMs, resultBytes = 0L
    var cpuNs, shuffleRead, shuffleWrite, spill, inputBytes, outputBytes = 0L
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    acc(g).synchronized { acc(g).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "none")
    jobIntervals.add((g, jobStart.getOrDefault(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, "none"))
    a.synchronized {
      a.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) a.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.resultBytes += m.resultSize
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Totals over the groups whose name starts with `prefix`. */
  def groupStats(prefix: String): Map[String, Double] = {
    val t = new Acc
    byGroup.asScala.foreach { case (g, a) =>
      if (g == prefix || g.startsWith(prefix + ".")) a.synchronized {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.taskFailures += a.taskFailures; t.runMs += a.runMs; t.cpuNs += a.cpuNs
        t.gcMs += a.gcMs; t.resultBytes += a.resultBytes; t.shuffleRead += a.shuffleRead
        t.fetchWaitMs += a.fetchWaitMs; t.shuffleWrite += a.shuffleWrite
        t.spill += a.spill; t.inputBytes += a.inputBytes; t.outputBytes += a.outputBytes
      }
    }
    Map("jobs" -> t.jobs.toDouble, "stages" -> t.stages.toDouble, "tasks" -> t.tasks.toDouble,
      "task_failures" -> t.taskFailures.toDouble, "executor_run_s" -> t.runMs / 1e3,
      "executor_cpu_s" -> t.cpuNs / 1e9, "gc_s" -> t.gcMs / 1e3,
      "result_bytes" -> t.resultBytes.toDouble, "shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "fetch_wait_s" -> t.fetchWaitMs / 1e3, "shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spill_bytes" -> t.spill.toDouble, "input_bytes" -> t.inputBytes.toDouble,
      "output_bytes" -> t.outputBytes.toDouble)
  }

  /** One operation execution: totals, the construct phase's job count,
    * and the part of `[startMs, endMs]` no job of the operation covered. */
  def opStats(tag: String, startMs: Long, endMs: Long): Map[String, Double] = {
    val covered = jobIntervals.asScala.toVector
      .filter { case (g, _, _) => g.startsWith(tag + ".") }
      .map { case (_, s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS, curE = -1L
    covered.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    val gap = math.max(0L, (endMs - startMs) - total) / 1e3
    groupStats(tag) ++ Map(
      "construct_jobs" -> groupStats(s"$tag.construct")("jobs"),
      "driver_gap_s" -> gap)
  }
}
