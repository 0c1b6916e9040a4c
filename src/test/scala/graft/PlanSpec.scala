package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Executed-plan assertions for the plan shapes the 100 TB design depends
  * on: the right join strategies, pushdown reaching the scan, and no
  * accidental nested-loop or full-scan regressions. These complement the
  * value-level oracle gate — a query can be correct and still carry a
  * plan that dies at scale. */
class PlanSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  /** Runs `body` with `confs` set on the shared session, then restores
    * each key to its previous value (or unsets it). */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q28 range join plans as an equi hash join, not a nested loop") {
    val plan = executedPlan(
      SparkEntry.queries("q28_range_join")(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi join on the key:\n$plan")
  }

  test("s03 candidate join broadcasts the query side") {
    val plan = executedPlan(
      SparkEntry.queries("s03_lsh_multitable")(spark, dir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"query side should broadcast:\n$plan")
  }

  test("t01 scan prunes to the referenced columns") {
    val df = SparkEntry.queries("t01_token_stats")(spark, dir)
    val plan = executedPlan(df)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("source") && !readSchema.contains("lang"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("q02 filter pushes down to the parquet scan") {
    val plan = executedPlan(SparkEntry.queries("q02_filter_project")(spark, dir))
    assert(plan.contains("PushedFilters: [") &&
      "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      s"no pushed filters in scan:\n$plan")
  }

  test("d09 bloom probe broadcasts the filter side and never shuffles the corpus") {
    val plan = executedPlan(SparkEntry.queries("d09_bloom_filter")(spark, dir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bloom side should broadcast:\n$plan")
  }

  test("q40 salted join shards the hot key: salt-replicating explode, salted join keys, no broadcast") {
    val df = SparkEntry.queries("q40_salted_join")(spark, dir)
    val plan = executedPlan(df)
    // the small side must be replicated per salt in-row (a Generate/
    // explode), the join must key on the salt alongside the equi key,
    // and the salted side must NOT broadcast — a broadcast would mean
    // the salt bought nothing and the hint was dropped
    assert(plan.contains("Generate explode"),
      s"no salt-replicating explode on the small side:\n$plan")
    assert(plan.contains("_salt_"),
      s"join does not carry the salt key:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected a shuffled hash join on (key, salt):\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"salted side broadcast — salting vanished:\n$plan")
  }

  test("q41 bucketed join reads co-located buckets — no exchange on either join side") {
    // at fixture scale the dimension fits the broadcast threshold and the
    // bucket layout never gets to prove itself — disable broadcast so the
    // plan shows the shape the layout buys at 100 TB (where neither fact
    // side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q41_bucketed_join")(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true") && plan.contains("SelectedBucketsCount"),
        s"scans are not bucketed:\n$plan")
      // bucketed layout supplies the join partitioning: no exchange may
      // key on either join column (the 5-group aggregation above the
      // join legitimately shuffles on o_orderpriority)
      assert(plan.contains("SortMergeJoin"),
        s"expected a sort-merge join over bucketed scans:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles a side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    }
  }

  test("d14 probes the corpus index with a broadcast batch — corpus bands never shuffle for the join") {
    val df = SparkEntry.queries("d14_incremental_dedup")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the index build's own signature aggregation legitimately shuffles
    // on doc_id; the PROBE must broadcast the batch side — a sort-merge
    // or shuffled-hash join on (band, bkey) would re-shuffle the whole
    // persisted index per daily batch at 100 TB
    assert(plan.contains("BroadcastHashJoin"),
      s"batch side should broadcast into the index probe:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"index probe re-shuffles the corpus bands:\n$plan")
  }

  test("p04 salted aggregation runs two aggregation stages (salted partial, keyed merge)") {
    val df = SparkEntry.queries("p04_salted_agg")(spark, dir)
    val plan = executedPlan(df)
    // two-phase salted agg = two logical aggregations, each planned as
    // partial+final HashAggregate around an exchange → >= 4 HashAggregate
    // nodes and >= 2 shuffles; a single-stage plan would mean the salt
    // collapsed away and the hot-key mitigation silently vanished
    val nAgg = "HashAggregate".r.findAllIn(plan).length
    assert(nAgg >= 4, s"expected two partial+final aggregation stages, got $nAgg:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length >= 2,
      s"expected a shuffle per aggregation stage:\n$plan")
  }

  test("d01 exact dedup aggregates per fingerprint — no cluster-buffering window") {
    val plan = executedPlan(SparkEntry.queries("d01_exact_dedup")(spark, dir))
    assert(!plan.contains("Window"),
      s"exactDedup must not buffer duplicate clusters in WindowExec:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected keeper-id aggregation:\n$plan")
    // the agg and the join probe must share one exchange (= one scan +
    // one fingerprint pass), not re-read the source per reference
    assert(plan.contains("ReusedExchange"),
      s"fingerprint exchange not shared between aggregate and join:\n$plan")
  }

  test("q33/q34 correlated subqueries decorrelate to equi-joins, not per-row probes") {
    for (q <- Seq("q33_correlated_scalar", "q34_exists_chain")) {
      val plan = executedPlan(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q kept a nested-loop (per-row re-execution shape):\n$plan")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"$q should decorrelate to an equi join:\n$plan")
    }
  }

  test("q29 JSON extraction stays in one whole-stage codegen span over the scan") {
    val plan = executedPlan(SparkEntry.queries("q29_json_extract")(spark, dir))
    // whole-stage codegen spans print as "*(n) Op" in the plan string
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined, s"no codegen span:\n$plan")
    assert(!plan.contains("BatchEvalPython"), "extraction left the JVM")
  }

  test("q36 distribution ranks carry no single-task-sort window partition") {
    // l_returnflag has 3 values: a window PARTITION BY on it alone sorts a
    // third of the corpus in one task. distributionRanks must window only
    // on (spark_partition_id, group) after a range partitioning, so every
    // Window's partition spec in the executed plan mentions __pid.
    val plan = executedPlan(
      SparkEntry.queries("q36_window_distribution")(spark, dir))
    assert(plan.contains("rangepartitioning"),
      s"expected a range partitioning pass:\n$plan")
    // the only PER-ROW window is the local row_number, keyed by __pid (the
    // offsets prefix sums window over the tiny per-slice counts table and
    // may key by group alone — parts × |groups| rows, not corpus rows)
    val rowNumberWindows = plan.linesIterator
      .filter(_.contains("row_number")).toList
    assert(rowNumberWindows.nonEmpty, s"no row_number window in plan:\n$plan")
    rowNumberWindows.foreach { w =>
      assert(w.contains("__pid"),
        s"row_number window without __pid (single-task-sort shape):\n$w")
    }
    Seq("ntile", "percent_rank", "cume_dist").foreach { f =>
      assert(!plan.contains(f),
        s"$f window survived — distribution fns must be arithmetic:\n$plan")
    }
  }

  test("d02 and t17 run their per-row work in native kernels: no lambda, no signature aggregate") {
    // MinHash signatures, est-Jaccard and the Gopher rules are in-row
    // kernels (graft_minhash / graft_slot_eq / graft_gopher_rep): a
    // LambdaFunction here means a higher-order function crept back onto
    // the hot path, where it evaluates interpreted per element
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    for (q <- Seq("d02_minhash_lsh", "t17_gopher_repetition")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction]))),
        s"$q optimized plan carries a lambda:\n$plan")
    }
    // the band table is map-only, so a stream can band statelessly
    val bands = graft.operators.Dedup.bandTable(Tables.load(spark, dir, "documents"), 8)
      .queryExecution.optimizedPlan
    assert(!bands.exists(_.isInstanceOf[Aggregate]), s"band table aggregates:\n$bands")
  }

  test("d15 df count and probe consume one reused shingle exchange") {
    // dupShingleRate repartitions the shingle stream once so the
    // document-frequency aggregation and the join probe share the same
    // exchange — without reuse the corpus is scanned and exploded twice
    val plan = executedPlan(
      SparkEntry.queries("d15_dup_shingle_rate")(spark, dir))
    assert(plan.contains("ReusedExchange"),
      s"shingle exchange not reused — corpus would scan twice:\n$plan")
  }

  test("s07 ADC scoring joins the code stream to a BROADCAST LUT") {
    // the per-(query, subspace, centroid) lookup table is |q|*m*ksub rows;
    // scoring must broadcast it — a shuffled join on (j, code) would
    // repartition the whole corpus code stream per query batch
    val plan = executedPlan(SparkEntry.queries("s07_pq_adc")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"LUT should broadcast into the code stream:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no scoring-side shuffle join expected:\n$plan")
  }

  test("q46 co-purchase pairs carry NO join — baskets aggregate, pairs generate in-row") {
    // the whole scale argument vs the classic self-join formulation:
    // pairs come from exploding each buyer's capped basket array, so the
    // executed plan must be aggregate → generate → aggregate with no
    // join node anywhere
    val plan = executedPlan(SparkEntry.queries("q46_copurchase")(spark, dir))
    assert(!plan.contains("Join"),
      s"co-purchase should not join — pairs generate in-row:\n$plan")
    assert(plan.contains("Generate"),
      s"expected in-row pair generation (explode):\n$plan")
  }

  test("q45 retention computes cohort and activity in ONE user-keyed exchange") {
    // min(week) and collect_set(week) ride the same groupBy — the naive
    // first-seen JOIN activity-matrix form would shuffle events twice
    // and join; assert no join and no second events-keyed exchange
    val plan = executedPlan(SparkEntry.queries("q45_retention_cohorts")(spark, dir))
    assert(!plan.contains("Join"),
      s"retention should aggregate once, not join first-seen to activity:\n$plan")
    // both the cohort (min) and the activity set ride ONE partial
    // aggregate's function list — the single-pass proof (AQE reprints
    // exchange nodes, so counting Exchange occurrences is unreliable)
    assert("partial_min\\(week[^\\]]*partial_collect_set\\(week".r
        .findFirstIn(plan).isDefined,
      s"cohort min and activity set should ride one aggregate pass:\n$plan")
  }

  test("t13 domain cap: data window keyed by (domain, bucket), survivors filtered below the shuffle") {
    // domains are few: a whole-domain window would sort an entire domain
    // in one task (the q36 shape). The data-side row_number must be
    // partitioned by (domain, bucket) — high cardinality — and the
    // bucket <= b* survivor filter must sit BELOW its exchange so only
    // ~n + one bucket's rows per domain ever shuffle.
    val plan = executedPlan(SparkEntry.queries("t13_domain_cap")(spark, dir))
    assert("row_number\\(\\) windowspecdefinition\\(domain#\\d+, bucket#\\d+".r
        .findFirstIn(plan).isDefined,
      s"data rank window must be keyed by (domain, bucket), not domain alone:\n$plan")
    // the survivor filter (bucket <= bstar) appears between the data scan
    // and the (domain, bucket) exchange: in plan print order, a Filter on
    // bstar occurs AFTER (deeper than) the hashpartitioning(domain, bucket)
    // exchange line
    val exIdx = "hashpartitioning\\(domain#\\d+, bucket#\\d+".r
      .findFirstMatchIn(plan).map(_.start)
    val fIdx = "Filter \\(isnull\\(bstar#\\d+\\) OR \\(bucket#\\d+ <= bstar#\\d+\\)\\)".r
      .findFirstMatchIn(plan).map(_.start)
    assert(exIdx.isDefined && fIdx.isDefined && fIdx.get > exIdx.get,
      s"survivor filter must sit below the (domain, bucket) exchange:\n$plan")
    // the histogram pass + the data pass: exactly two pruned scans (count
    // in the final plan only — AQE's toString repeats the initial plan)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("FileScan parquet \\[doc_id#\\d+L,source#\\d+\\]".r
        .findAllIn(finalPlan).size === 2,
      s"expected exactly two 2-column scans (histogram + data):\n$plan")
  }

  test("q51 equi-depth bins: ranged two-pass ntile, no single-task-sort window") {
    // a global ntile window sorts the whole corpus in one task; the
    // registered plan must be distributionRanks' shape — range partition,
    // __pid-keyed local rank, arithmetic tile — with no ntile function
    // surviving into the executed plan (q36's guarantees, re-pinned for
    // the binning surface).
    val plan = executedPlan(SparkEntry.queries("q51_equidepth_bins")(spark, dir))
    assert(plan.contains("rangepartitioning"),
      s"expected a range partitioning pass:\n$plan")
    val rowNumberWindows = plan.linesIterator
      .filter(_.contains("row_number")).toList
    assert(rowNumberWindows.nonEmpty, s"no row_number window in plan:\n$plan")
    rowNumberWindows.foreach { w =>
      assert(w.contains("__pid"),
        s"row_number window without __pid (single-task-sort shape):\n$w")
    }
    assert(!plan.contains("ntile"),
      s"ntile window survived — the tile must be arithmetic:\n$plan")
  }

  test("runtime bloom-filter join pruning fires on the fact side of a selective dim join") {
    // the row-level sibling of q54's partition pruning: for a SHUFFLE join
    // through a selective dim, Catalyst builds a bloom filter from the dim
    // keys and injects might_contain on the fact scan so non-matching rows
    // die before the exchange. Production thresholds (10 MB dim / 10 GB
    // probe) self-regulate at cluster scale; this lowers them to prove the
    // repo's join shapes are ELIGIBLE — an ineligible shape (filter above
    // the join, expression-wrapped keys) would silently scan everything.
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // application threshold is a MIN (probe side must be bigger),
      // creation threshold a MAX (dim side must be smaller)
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val events = Tables.load(spark, dir, "events")
        .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      val dim = Tables.load(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val joined = events.join(dim, col("user_id") === col("c_custkey"))
        .agg(sum(col("cents")).as("total"))
      val plan = executedPlan(joined)
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n$plan")
    }
  }

  test("AQE splits the hot partition of a skewed sort-merge fact join (skew=true)") {
    // the input-skew case GraftSession.tune enables skewJoin for: a zipf
    // fact whose hottest key owns ~24% of the rows (floor(K·u⁸), so
    // P(k = 0) = K^(-1/8)) joined to a per-key dim with broadcast off.
    // AQE sizes partitions on COMPRESSED map output and a hot key's rows
    // compress hard, so the payload is a hash that keeps them
    // incompressible. Thresholds are demo-sized (defaults 256m / 5x are
    // for cluster-scale partitions).
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k") {
      val nKeys = 100000L
      val u = (pmod(xxhash64(col("id"), lit(9)), lit(1000000000L)) + 1).cast("double") / 1e9
      val fact = spark.range(1000000L).select(
        least(floor(lit(nKeys.toDouble) * pow(u, 8.0)), lit(nKeys - 1)).cast("long").as("k"),
        pmod(xxhash64(col("id"), lit(3)), lit(1000000L)).as("v"))
      val dim = spark.range(nKeys).select(col("id").as("k"), (col("id") % 13).as("grp"))
      val plan = executedPlan(fact.join(dim, "k").groupBy("grp").agg(sum("v").as("sv")))
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(plan.contains("skew=true"), s"AQE did not split the hot partition:\n$plan")
    }
  }

  test("s08 knn self-join: rank-limit pushdown fires and the probe window is narrow") {
    val df = SparkEntry.queries("s08_knn_join")(spark, dir)
    df.collect()
    // formatted mode prints per-node Input lists (toString hides child
    // outputs), which is what the narrowness claim is about
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // Spark 4's WindowGroupLimit must cut BOTH windows (probe top-nprobe,
    // final top-k) before their exchanges — without it the probe window
    // shuffles the full n·nlist score stream
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown did not fire:\n$plan")
    // the probe window ranks a NARROW (vec_id, cid, ccos) stream: no
    // embedding array may appear in any window-group-limit input (the
    // wide-window form measured 3x the wall at sqrt-n nlist)
    val windowInputs = "(?s)\\(\\d+\\) WindowGroupLimit\\s*\\nInput \\[\\d+\\]: \\[[^\\]]*\\]"
      .r.findAllIn(plan).toList
    assert(windowInputs.nonEmpty, s"no WindowGroupLimit Input lines:\n$plan")
    windowInputs.foreach(w =>
      assert(!w.contains("e#") && !w.contains("qe#") && !w.contains("embedding"),
        s"window input carries the vector column:\n$w"))
  }

  test("t15 chunking shuffles only for its output ordering") {
    val df = SparkEntry.queries("t15_rag_chunks")(spark, dir)
    // AQE's toString prints final AND initial plans — match the final only
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // one rangepartitioning exchange (the ORDER BY), zero data shuffles
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toList
    assert(exchanges.length === 1 && exchanges.head.contains("rangepartitioning"),
      s"expected exactly the order-by exchange, got $exchanges:\n$plan")
    // and the scan reads only the two referenced columns
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text")
      && !readSchema.contains("lang"),
      s"scan not pruned to (doc_id, text): $readSchema")
  }

  test("d24 embedding decontamination never shuffles the corpus") {
    val plan = executedPlan(SparkEntry.queries("d24_embedding_decontaminate")(spark, dir))
    assert(plan.contains("BroadcastExchange"),
      s"eval side should broadcast:\n$plan")
    // corpus-side movement = the final sort only; the argmax must be a
    // partial-then-final hash aggregate, not a window
    assert(!plan.contains("WindowExec"), s"unexpected window:\n$plan")
  }

  test("s09 IVF-PQ: centroids/probes/LUT broadcast, no nested-loop anywhere") {
    // the composition's scale contract: every query-side structure
    // (coarse centroids, probe lists, ADC LUT, re-rank query vectors)
    // moves by broadcast; the corpus-side joins are equi-joins. A
    // BroadcastNestedLoopJoin would mean a join lost its keys.
    val plan = executedPlan(SparkEntry.queries("s09_ivf_pq_topk")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"ADC/re-rank joins should be broadcast hash joins:\n$plan")
    // the centroid scoring step is a DELIBERATE broadcast nested loop
    // (corpus × ≤nlist broadcast centroids — n·nlist rows by contract);
    // what must never appear is an unbroadcast cartesian product
    assert(!plan.contains("CartesianProduct"),
      s"unbroadcast cross join in the IVF-PQ pipeline:\n$plan")
  }

  test("g01 trianglesAuto selects the branch the skew certificate predicts, on both graph families") {
    import graft.operators.GraphOps
    // near-uniform graph (max/median ≈ 1): the id-ordered join, which
    // lacks the orientation's wedge attribute (TriangleBranch)
    val uniform = spark.range(4000).selectExpr(
      "id AS src", "(id * 37) % 4000 AS dst")
    val uniPlan = GraphOps.trianglesAuto(uniform)
    assert(!TriangleBranch.oriented(uniPlan),
      s"uniform graph must take the id-ordered join (no oriented wedge):\n" +
        uniPlan.queryExecution.optimizedPlan)
    // power-law graph (hub node 0, skew ratio >= threshold): the
    // degree-ordered orientation
    val skewed = spark.range(8000).selectExpr(
      "CASE WHEN id % 2 = 0 THEN 0 ELSE id END AS src",
      "(id * 37) % 4000 AS dst")
    val skewPlan = GraphOps.trianglesAuto(skewed)
    assert(TriangleBranch.oriented(skewPlan),
      s"skewed graph must take the degree-ordered orientation:\n" +
        skewPlan.queryExecution.optimizedPlan)
    // both branches stay output-identical through the chooser
    val viaAuto = skewPlan
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaId = GraphOps.triangles(skewed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaAuto === viaId)
  }

  test("trianglesAuto knownStats: lazy construction (no job), same branch choice") {
    import graft.operators.GraphOps
    val uniform = spark.range(4000).selectExpr(
      "id AS src", "(id * 37) % 4000 AS dst")
    // a caller-supplied skew profile must make plan CONSTRUCTION lazy —
    // count Spark jobs across the build (the knnJoin knownBytes contract)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // id-ordered branch: fully lazy — no degree aggregate, no barrier
      val lazyPlan = GraphOps.trianglesAuto(uniform,
        knownStats = Some((2L, 1L)))
      // drain the async listener bus, or a late job goes uncounted
      org.apache.spark.graft.ListenerBusHook.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() === 0,
        "plan construction with knownStats must not run the degree aggregate")
      assert(!lazyPlan.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
      // stated skew stats drive the same branch the measured path takes
      // (the orientation itself materializes its oriented edges — that
      // job is the branch's own barrier, not a stats scan)
      val skewedPlan = GraphOps.trianglesAuto(uniform,
        knownStats = Some((1000L, 1L)))
      assert(skewedPlan.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q54 fact scan carries a dynamic partition pruning filter from the dim join") {
    // the fact is written partitioned by l_returnflag; joining through the
    // filtered dim must inject the dim's keys into the fact scan's
    // PartitionFilters at runtime — whole partitions never open
    val plan = executedPlan(SparkEntry.queries("q54_dpp")(spark, dir))
    assert(plan.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning on the fact scan:\n$plan")
    assert(plan.contains("PartitionFilters"),
      s"fact scan has no partition filters at all:\n$plan")
  }

  test("q25 never materializes the HLL partial per distinct value") {
    // mixing countDistinct with approx_count_distinct in ONE aggregate
    // makes the distinct rewrite push the 1,640-field sketch partial
    // into the per-(key, value) pre-aggregation — one 13 KB buffer per
    // distinct orderkey (measured 6.45 s vs 2.17 s at sf0.1). The fixed
    // shape aggregates the sketch over the pre-distincted stream, so
    // every sketch-bearing HashAggregate is keyed by the GROUP alone.
    val plan = executedPlan(
      SparkEntry.queries("q25_approx_distinct")(spark, dir))
    val sketchAggs = plan.linesIterator
      .filter(_.contains("approx_count_distinct")).toList
    assert(sketchAggs.nonEmpty, s"no HLL aggregate in plan:\n$plan")
    sketchAggs.foreach { l =>
      val keys = l.substring(l.indexOf("keys=[") + 6,
        l.indexOf("]", l.indexOf("keys=[")))
      assert(!keys.contains("l_orderkey"),
        s"sketch partial keyed by the distinct value (per-value buffers):\n$l")
    }
  }

  test("e04 shuffle-shard ranks through the two-pass form, no global window") {
    // the naive form is row_number() OVER (ORDER BY h) — a single-task
    // global sort. The registered plan must carry the q36/q51 shape:
    // a range partitioning pass, and every per-row row_number window
    // keyed by __pid
    val plan = executedPlan(SparkEntry.queries("e04_shuffle_shard")(spark, dir))
    assert(plan.contains("rangepartitioning"),
      s"expected the two-pass range partitioning:\n$plan")
    val rowNumberWindows = plan.linesIterator
      .filter(_.contains("row_number")).toList
    assert(rowNumberWindows.nonEmpty, s"no row_number window in plan:\n$plan")
    rowNumberWindows.foreach { w =>
      assert(w.contains("__pid"),
        s"row_number window without __pid (single-task global sort):\n$w")
    }
  }

  test("g24 sampled triangles: the coin filters EDGES before any join") {
    // DOULION's whole point is that the p-filter runs map-side on the
    // edge stream so the triangle join sees p|E| rows. The estimate arm
    // must contain no unsampled triangle join: its joins consume the
    // locally-checkpointed sampled RDD, and no cartesian/nested-loop
    // appears anywhere
    val plan = executedPlan(
      SparkEntry.queries("g24_skew_sampled_triangles")(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in the sampled triangle plan:\n$plan")
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
      s"triangle join does not consume the materialized sample:\n$plan")
  }

  test("i03 evolved read prunes to the referenced columns through mergeSchema") {
    // mergeSchema unions footers for SCHEMA resolution; the DATA read must
    // still prune to what the query projects — an evolved-lake scan that
    // reads all columns would defeat the point of columnar landing files
    val plan = executedPlan(SparkEntry.queries("i03_schema_evolution")(spark, dir))
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    val evolved = readSchemas.filter(_.contains("quality_score"))
    assert(evolved.nonEmpty, s"no evolved-read scan found:\n$plan")
    assert(evolved.forall(rs => !rs.contains("user_id") && !rs.contains("event_id")),
      s"evolved read scans unreferenced columns: $evolved")
  }

  test("e07 packing windows per shard — no global single-task window") {
    val plan = executedPlan(SparkEntry.queries("e07_bpe_packing")(spark, dir))
    val windows = "Window [^\\n]*".r.findAllIn(plan).toSeq
    assert(windows.nonEmpty, s"no window in the packing plan:\n$plan")
    assert(windows.forall(_.contains("shard")),
      s"packing window not partitioned by shard (single-task sort):\n$windows")
  }

  test("g26 triangle delta: equi wing joins, no cartesian or nested loop") {
    // the day-2 delta must stay batch × adjacency equi-joins — a
    // degenerate plan here is a corpus-sized blowup at scale
    import graft.operators.GraphOps
    val canon = GraphOps.canonicalEdges(
        Tables.load(spark, dir, "lineitem")
          .select((col("l_orderkey") % 4000).as("src"),
            (col("l_partkey") % 4000).as("dst")))
      .withColumn("is_batch", pmod(xxhash64(col("u"), col("v")), lit(10)) === 0)
    val plan = executedPlan(GraphOps.triangleDelta(canon))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the triangle delta:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected equi wing joins:\n$plan")
  }

  test("g27 component fold: contracted remap joins stay equi") {
    import graft.operators.GraphOps
    val edges = Tables.load(spark, dir, "lineitem")
      .select((col("l_orderkey") % 4000).as("src"),
        (col("l_partkey") % 4000).as("dst"))
    val canon = GraphOps.canonicalEdges(edges)
      .withColumn("is_batch", pmod(xxhash64(col("u"), col("v")), lit(10)) === 0)
    val day1 = GraphOps.connectedComponents(canon.filter(!col("is_batch"))
      .select(col("u").as("src"), col("v").as("dst")))
    val plan = executedPlan(GraphOps.foldComponents(day1,
      canon.filter(col("is_batch")).select(col("u"), col("v"))))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the component fold:\n$plan")
  }

  test("star CC round: one linear plan — 3 shuffle exchanges, no broadcast, no join") {
    import graft.operators.GraphOps
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // each star step is one group-by-node window pass, plus the distinct:
    // a self-join here would re-read the edges (and a small edge list
    // would be broadcast into it), multiplying stages and jobs per round
    val edges = Tables.load(spark, dir, "lineitem")
      .select((col("l_orderkey") % 4000).as("src"),
        (col("l_partkey") % 4000).as("dst"))
    val e = GraphOps.canonicalEdges(edges)
      .select(col("v").as("u"), col("u").as("v")).localCheckpoint()
    val round = GraphOps.starRound(e)
    round.collect() // materialize so AQE finalizes the plan
    val plan = round.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val shape = (
      helper.collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size,
      helper.collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size,
      helper.collectWithSubqueries(plan) { case j: BaseJoinExec => j }.size)
    assert(shape === ((3, 0, 0)),
      s"(shuffles, broadcasts, joins) of one star round:\n$plan")
    GraphOps.freeLocalCheckpoint(e)
  }

  test("m09 audio round trip: only the doc-id fan-out exchange, keyed, pre-codec") {
    // r16 optimization (r15 verdict #3): the engine-native WAV codec lets
    // m09 fan out like m08/m10 (the AudioSystem provider lock that forced
    // the single-task shape is gone). Same scale pin as m10: at most the
    // one hash exchange of bare ids BELOW the codec mapPartitions —
    // FanOut's guard makes it a no-op at scale, and an accidental
    // post-codec (payload-sized) shuffle still fails the pin.
    import graft.operators.Multimodal
    val plan = executedPlan(Multimodal.audioRoundTrip(
      Tables.load(spark, dir, "documents")))
      .split("== Initial Plan ==").head // final AQE plan only
    val exchanges = plan.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange") &&
        !l.contains("ShuffleQueryStage")).toList
    assert(exchanges.size <= 1,
      s"codec pass should carry at most the id fan-out exchange:\n$plan")
    exchanges.foreach(l => assert(l.contains("hashpartitioning(doc_id"),
      s"the only allowed exchange is the doc_id fan-out:\n$l"))
  }

  test("m10 GIF round trip: only the doc-id fan-out exchange, keyed, pre-codec") {
    // r15 optimization: the codec pass fans out on doc_id (FanOut.cpuBound
    // — no-op at scale, where the scan already carries >= cores splits).
    // The pin keeps the SCALE contract: at most that one hash exchange of
    // bare ids, placed BELOW the codec mapPartitions, and nothing else —
    // an accidental post-codec shuffle (payload-sized) would still fail.
    import graft.operators.Multimodal
    val plan = executedPlan(Multimodal.gifRoundTrip(
      Tables.load(spark, dir, "documents")))
      .split("== Initial Plan ==").head // final AQE plan only
    val exchanges = plan.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange") &&
        !l.contains("ShuffleQueryStage")).toList
    assert(exchanges.size <= 1,
      s"codec pass should carry at most the id fan-out exchange:\n$plan")
    exchanges.foreach(l => assert(l.contains("hashpartitioning(doc_id"),
      s"the only allowed exchange is the doc_id fan-out:\n$l"))
  }

  test("IVF cell assignment is one narrow pass — no exchange, no join-back") {
    // r16 (guide §2.4): every lifecycle segment write (s10–s17 builds,
    // appends, retrains, versioned commits) assigns home cells IN-ROW by
    // folding over the broadcast centroid list. The former shape scored
    // n·nlist rows, reduced them through a hash-aggregate exchange and
    // re-attached (vec_id, cid) through a second corpus-shuffling join.
    // The pin: no Exchange, no HashAggregate, no equi join anywhere in
    // the assignment frame — only the deliberate 1-row broadcast of the
    // collected centroid array (the s09 nested-loop convention).
    import graft.operators.Similarity
    val emb = Tables.load(spark, dir, "embeddings")
    val plan = executedPlan(Similarity.assignCells(
      Similarity.prepCorpus(emb), Similarity.prepCentroids(emb, 8)))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange hashpartitioning"),
      s"assignment re-grew a shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"assignment re-grew a corpus join:\n$plan")
    // the centroid aggregate's own tiny exchange lives on the broadcast
    // (single-row) side; the corpus side must be scan → project only
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the 1-row centroid-array broadcast:\n$plan")
  }

  test("s10 probe scan statically prunes to the probed cell directories") {
    // the whole point of the cid-partitioned postings artifact: a probe
    // must read its nprobe cells' directories, not the corpus. The
    // pruning is STATIC — the probed cells are collected at construction
    // and only their manifest leaves are handed to the scan — because
    // dynamic partition pruning was measured planting
    // dynamicpruningexpression(true) here (a full scan wearing a pruning
    // expression). This pin asserts the real thing: one query with
    // nprobe 2 over 8 cells reads postings files of at most 2 leaves.
    import graft.operators.VersionedIvf
    val emb = Tables.load(spark, dir, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("s10-plan").toString
    VersionedIvf.build(emb, root, nlist = 8)
    val leaves = VersionedIvf.currentManifest(root).get.leaves
    assert(leaves.map(_.cid).distinct.size === 8, s"expected 8 cells: $leaves")
    val probe = VersionedIvf.probe(
      spark, root, emb.filter(col("vec_id") === 0), k = 10, nprobe = 2)
    probe.collect()
    val postingsFiles = probe.inputFiles.toSeq
      .filter(f => f.contains("/data/") && !f.contains("-cents-"))
    val readLeaves = leaves.filter(l => postingsFiles.exists(_.contains(s"/${l.path}/")))
    assert(postingsFiles.nonEmpty && readLeaves.size <= 2 &&
      postingsFiles.forall(f => readLeaves.exists(l => f.contains(s"/${l.path}/"))),
      s"postings scan not pruned to the probed cells: $postingsFiles")
  }

  test("st15 chunk metrics: one aggregation exchange, no join") {
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("event_type", StringType)
      .add("value", DoubleType)
    val lines = spark.read.textFile(
      graft.sources.Formats.ingestFixturePath).toDF("line")
    val plan = executedPlan(graft.sources.Formats
      .ingestChunkMetrics(lines, schema, maxBadPpm = 400000L))
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    // AQE reprints exchange nodes under "== Initial Plan ==" — count in
    // the final section only
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).size == 1,
      s"expected exactly the one chunk-key aggregation exchange:\n$finalPlan")
  }

  test("g29 walk-count fold: equi joins per hop, aggregated frontier, no nested loop") {
    // r12 verdict #5: g10's recursive CTE carries one row per walk
    // (Σ deg³); the operator form must fold counts per hop — equi joins
    // against the edge table and hash aggregates, never a cartesian.
    val plan = executedPlan(
      SparkEntry.queries("g29_bounded_walk_counts")(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"walk expansion degenerated to a non-equi join:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"no aggregated fold — the plan is carrying the walk multiset:\n$plan")
  }

  test("q30 exact arm is a value-distribution aggregate — no whole-group Percentile buffer") {
    // r12 verdict #1: the old exact arm's percentile(...) materialized
    // every group's full value list in one ObjectHashAggregate task
    // (linear in group size — OOM-class at the 100 TB design point).
    // The distribution form bounds state by the distinct cent domain.
    // percentile_approx (the operator under test) legitimately remains:
    // its sketch state is O(accuracy), not O(group).
    val plan = executedPlan(SparkEntry.queries("q30_approx_quantile")(spark, dir))
    assert(!"[^_a-z]percentile\\(".r.findFirstIn(plan).isDefined,
      s"exact Percentile aggregate (whole-group value buffer) in plan:\n$plan")
    assert(plan.contains("percentile_approx"),
      s"the approx sketch under certification vanished from the plan:\n$plan")
  }

  test("q26 exact percentiles are value-distribution aggregates — no Percentile, no ObjectHashAggregate") {
    // r13 verdict #3 (the registry's one `weak`): q26's three exact
    // interpolated percentiles used the same whole-group-buffering
    // Percentile the q30 fix removed. The distribution rewrite bounds
    // state by the distinct value domain; with it, NO ObjectHashAggregate
    // remains anywhere in q26's plan — so the q30 fix comment's "the only
    // remaining ObjectHashAggregate is percentile_approx itself" now
    // holds for the whole registry, not just q30's plan.
    val plan = executedPlan(SparkEntry.queries("q26_percentile")(spark, dir))
    assert(!"[^_a-z]percentile\\(".r.findFirstIn(plan).isDefined,
      s"exact Percentile aggregate (whole-group value buffer) in plan:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"an object-state aggregate survived the distribution rewrite:\n$plan")
  }
}
