package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Job-count contracts for the r16 job-diet optimizations (r15 verdict
  * #1/#5): driver-coordinated loops pay a fixed scheduling latency per
  * Spark JOB, so the per-round job count is the thing the lazy-checkpoint
  * convergence piggyback actually changed — these pins keep it from
  * regressing. Counts are taken with a plain job-start listener; AQE means
  * one action can submit several stage-materialization jobs, so the pins
  * are calibrated against measured values with one job of headroom, and
  * the CC pin uses a SLOPE (jobs added per extra round, via two inputs
  * with different round counts) so session-setup noise cancels out. */
class JobsPerRoundSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.get

  private def jobsDuring[T](body: => T): (T, Long) = {
    val counter = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      // the listener bus posts asynchronously: drain it, or a count
      // taken early under-counts and a "≤ N jobs" pin passes falsely
      org.apache.spark.graft.ListenerBusHook.waitUntilEmpty(spark.sparkContext)
      (r, counter.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def pathEdges(n: Int) = {
    import spark.implicits._
    (0L until n.toLong - 1).map(i => (i, i + 1)).toDF("src", "dst")
  }

  test("star CC: lazy checkpoint — each extra round costs at most 5 jobs") {
    import graft.operators.GraphOps
    // The convergence aggregate is the round's materializing action, so
    // no separate per-round checkpoint job exists, and a round is one
    // linear plan with three exchanges. Measured as the SLOPE between two
    // path graphs with different round counts (path(64): 7 rounds,
    // path(4096): 13), so the fixed setup jobs cancel: 5.0 jobs per extra
    // round on a 4-core session (3 shuffle-stage jobs + 2 for the check
    // aggregate), where the former join-based round measured 11.0. The
    // bound allows one job of headroom over the whole difference, so any
    // per-round job added back (an eager checkpoint, a second action, a
    // broadcast or extra exchange) fails it.
    GraphOps.connectedComponentsStar(pathEdges(64))._1.count() // warm
    val ((_, rShort), jShort) =
      jobsDuring(GraphOps.connectedComponentsStar(pathEdges(64)))
    val ((_, rLong), jLong) =
      jobsDuring(GraphOps.connectedComponentsStar(pathEdges(4096)))
    val extraRounds = rLong - rShort
    assert(extraRounds >= 4,
      s"path graphs must differ in round count: $rShort vs $rLong")
    assert(jLong - jShort <= 5L * extraRounds + 1,
      s"star CC costs more than 5 jobs per round: ${jLong - jShort} jobs " +
        s"over $extraRounds extra rounds ($jShort → $jLong)")
  }

  test("versioned IVF delete probes every segment in one job train") {
    import graft.operators.VersionedIvf
    import spark.implicits._
    val emb = (0L until 64L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 7 + j * 3) % 13 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val root = graft.RunDirs.freshDir("jobs-ivf-del").toString
    VersionedIvf.build(emb.filter(col("vec_id") % 4 =!= 3), root, nlist = 4)
    VersionedIvf.append(spark, emb.filter(col("vec_id") % 8 === 3), root, "d2a")
    VersionedIvf.append(spark, emb.filter(col("vec_id") % 8 === 7), root, "d2b")
    // 3 segments live (build + 2 appends). The affected-leaf probe must
    // be ONE unioned semi-join job train, not one per segment: measured 7
    // jobs total for the whole delete (probe + survivor rewrite) after
    // the r16 fusion; the pre-fusion per-segment loop cost ~2 probe jobs
    // per segment on top (s16's full chain measured 43 → 35 jobs). The
    // pin leaves one job of headroom and discriminates cleanly: a
    // re-split probe costs at least 2 more per extra segment.
    val (_, jobs) = jobsDuring(
      VersionedIvf.delete(spark, root,
        emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))))
    assert(jobs <= 8, s"versioned delete submitted $jobs jobs for 3 segments " +
      "— the affected-leaf probe has re-split into per-segment jobs")
  }

  test("BPE training runs no Spark job per merge: 8 merges cost at most 1 job more than 2") {
    import graft.operators.TextOps
    // One word-count wave, then in-memory training: the job count must
    // not grow with the merge budget. The per-round Spark loop this
    // trainer replaced measured 10 jobs at 2 merges and 28 at 8 (three
    // per merge: pair count, argmax collect, checkpoint of the folded
    // vocabulary). One job of headroom absorbs AQE stage submission.
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    TextOps.bpeTrain(docs, merges = 2).collect() // warm
    val (few, jFew) = jobsDuring(TextOps.bpeTrain(docs, merges = 2).collect())
    val (many, jMany) = jobsDuring(TextOps.bpeTrain(docs, merges = 8).collect())
    assert(few.length === 2 && many.length === 8,
      s"corpus too small to train 8 merges: ${few.length}, ${many.length}")
    assert(jMany - jFew <= 1L,
      s"BPE training grew by ${jMany - jFew} jobs from 2 to 8 merges " +
        s"($jFew → $jMany): a Spark job runs per merge")
  }
}
