package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The registered st* queries run the streaming-native operators in batch
  * mode (oracle-checked); this spec proves the same transforms produce the
  * same results under a real `readStream` → memory-sink execution. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"

  private def streamDir: String = {
    val d = Files.createTempDirectory("events-stream")
    Files.copy(Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  test("streaming RAG chunking == batch, chunk for chunk") {
    // t15's chunker is stateless, so it must run UNCHANGED under
    // readStream — the day-0 ingest shape for a retrieval index. Replay
    // the documents as 4 micro-batches and compare every chunk row.
    val docs = Tables.load(spark, dir, "documents")
    val replay = Files.createTempDirectory("graft-chunk-replay").toString
    docs.withColumn("part", col("doc_id") % 4).repartition(4, col("part"))
      .drop("part").write.mode("overwrite").parquet(replay)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(replay)
    val q = graft.operators.TextOps.ragChunks(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunks_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("chunks_out")
      .orderBy(col("doc_id"), col("chunk_id")).collect().map(_.toSeq)
    val batch = graft.operators.TextOps.ragChunks(docs)
      .orderBy(col("doc_id"), col("chunk_id")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming band-index maintenance: foreachBatch append is replay-idempotent") {
    // The production composition of st14 + d28: a document stream
    // maintains the persisted LSH band index via foreachBatch, keyed by
    // Spark's own batchId — exactly the sink contract foreachBatch
    // documents (a failed trigger REPLAYS its batch with the same id).
    // The whole corpus arrives through the stream into an EMPTY build,
    // and manifest membership makes the replay a no-op, so the
    // maintained artifact equals the batch rebuild even with a simulated
    // retry injected.
    import graft.operators.VersionedBand
    val docs = Tables.load(spark, dir, "documents").filter(col("doc_id") < 200)
    val replay = Files.createTempDirectory("graft-idx-replay").toString
    docs.withColumn("part", col("doc_id") % 4).repartition(4, col("part"))
      .drop("part").write.mode("overwrite").parquet(replay)
    val root = Files.createTempDirectory("graft-idx-stream").toString
    VersionedBand.build(docs.limit(0), root)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(replay)
    var replayed = false
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        VersionedBand.append(spark, batch, root, s"b$batchId")
        if (batchId == 1 && !replayed) { // simulated mid-stream retry
          replayed = true
          VersionedBand.append(spark, batch, root, s"b$batchId")
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("band"), col("bkey")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    val rebuildDir = Files.createTempDirectory("graft-idx-rebuild").toString
    VersionedBand.build(docs, rebuildDir)
    val maintained = rows(VersionedBand.readLive(spark, root))
    assert(replayed, "the simulated retry must have fired")
    assert(maintained.nonEmpty)
    // multiplicity-identical INCLUDING the replayed batch
    assert(maintained === rows(VersionedBand.readLive(spark, rebuildDir)))
  }

  test("streaming IVF maintenance: foreachBatch append is replay-idempotent (st16)") {
    // the ANN sibling of the band-index test above, on the VERSIONED
    // artifact (r13 verdict #2: the one registered query modeling a LIVE
    // writer must give concurrent probes snapshot isolation): an
    // embedding stream maintains the index via VersionedIvf.append, one
    // call per micro-batch keyed by Spark's batchId; a simulated trigger
    // retry must be a MANIFEST no-op — the version count stays at
    // build + one commit per distinct batch — and the final snapshot
    // must equal the frozen-centroid rebuild
    import graft.operators.VersionedIvf
    val emb = Tables.load(spark, dir, "embeddings")
    val day1 = emb.filter(col("vec_id") % 4 =!= 3)
    val day2 = emb.filter(col("vec_id") % 4 === 3)
    val root = Files.createTempDirectory("graft-ivf-stream").toString
    VersionedIvf.build(day1, root, nlist = 8)
    val replay = Files.createTempDirectory("graft-ivf-replay").toString
    day2.withColumn("part", col("vec_id") % 3).repartition(3, col("part"))
      .drop("part").write.mode("overwrite").parquet(replay)
    val stream = spark.readStream.schema(day2.schema)
      .option("maxFilesPerTrigger", 1).parquet(replay)
    var replayed = false
    var replayVersions = (-1, -1) // committed count (before, after) the retry
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        VersionedIvf.append(spark, batch, root, s"b$batchId")
        if (batchId == 1 && !replayed) { // simulated mid-stream retry
          replayed = true
          val before = graft.sources.VersionedArtifact.publishedVersions(root).size
          VersionedIvf.append(spark, batch, root, s"b$batchId")
          val after = graft.sources.VersionedArtifact.publishedVersions(root).size
          replayVersions = (before, after)
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val rebuildDir = Files.createTempDirectory("graft-ivf-rebuild").toString
    VersionedIvf.build(emb, rebuildDir, nlist = 8, centroidSource = Some(day1))
    assert(replayed, "the simulated retry must have fired")
    assert(replayVersions._1 === replayVersions._2,
      s"the replayed trigger committed a new version: $replayVersions")
    // build + 3 micro-batch commits, the replay adding none
    assert(graft.sources.VersionedArtifact.publishedVersions(root).size === 4)
    val maintained = VersionedIvf.livePostings(spark, root)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(maintained.nonEmpty)
    assert(maintained === VersionedIvf.livePostings(spark, rebuildDir)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
  }

  test("streaming VERSIONED band maintenance: foreachBatch append is a manifest no-op on replay (st17)") {
    // the dedup sibling of the st16 test above (r14 verdict #7): a
    // document stream maintains the COMMITTED VersionedBand index via
    // foreachBatch keyed by Spark's batchId; a simulated trigger retry
    // must be a MANIFEST no-op (published-version count unchanged) and
    // the final snapshot must equal the from-scratch rebuild
    import graft.operators.VersionedBand
    val docs = Tables.load(spark, dir, "documents").filter(col("doc_id") < 200)
    val day1 = docs.filter(col("doc_id") % 4 =!= 3)
    val day2 = docs.filter(col("doc_id") % 4 === 3)
    val root = Files.createTempDirectory("graft-vband-stream").toString
    VersionedBand.build(day1, root, buckets = 8)
    val replay = Files.createTempDirectory("graft-vband-replay").toString
    day2.withColumn("part", col("doc_id") % 3).repartition(3, col("part"))
      .drop("part").write.mode("overwrite").parquet(replay)
    val stream = spark.readStream.schema(day2.schema)
      .option("maxFilesPerTrigger", 1).parquet(replay)
    var replayed = false
    var replayVersions = (-1, -1) // committed count (before, after) the retry
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        VersionedBand.append(spark, batch, root, s"b$batchId")
        if (batchId == 1 && !replayed) { // simulated mid-stream retry
          replayed = true
          val before = graft.sources.VersionedArtifact.publishedVersions(root).size
          VersionedBand.append(spark, batch, root, s"b$batchId")
          val after = graft.sources.VersionedArtifact.publishedVersions(root).size
          replayVersions = (before, after)
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(replayed, "the simulated retry must have fired")
    assert(replayVersions._1 === replayVersions._2,
      s"the replayed trigger committed a new version: $replayVersions")
    // build + 3 micro-batch commits, the replay adding none
    assert(graft.sources.VersionedArtifact.publishedVersions(root).size === 4)
    val rebuildDir = Files.createTempDirectory("graft-vband-rebuild").toString
    VersionedBand.build(docs, rebuildDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("band"), col("bkey")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    val maintained = rows(VersionedBand.readLive(spark, root))
    assert(maintained.nonEmpty)
    assert(maintained === rows(VersionedBand.readLive(spark, rebuildDir)))
  }

  test("streaming ingest breaker: per-batch metrics == st15 ledger; poisoned chunk kills the query") {
    // st15's production form: readStream of raw lines → foreachBatch
    // { tolerant parse → quarantineRateMetrics → requireQuarantineRate }.
    // Replay the fixture's three length%3 chunks as one FILE each (so
    // micro-batch == chunk), accumulate each batch's metrics, and prove
    // (a) the streamed per-chunk ledger equals the registered batch
    // form's, and (b) with the breaker armed, the 750000-ppm chunk
    // terminates the stream with the i04 IllegalStateException.
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("event_id", LongType).add("ts", TimestampType)
      .add("user_id", LongType).add("event_type", StringType)
      .add("value", DoubleType)
    val fixture = graft.sources.Formats.ingestFixturePath
    val lines = scala.io.Source.fromFile(fixture).getLines().toSeq
    val replay = Files.createTempDirectory("graft-ingest-replay")
    (0 until 3).foreach { c =>
      val chunk = lines.filter(_.length % 3 == c)
      Files.write(replay.resolve(f"chunk$c%d.csv"),
        chunk.mkString("\n").getBytes("UTF-8"))
    }
    val stream = spark.readStream.option("maxFilesPerTrigger", 1)
      .textFile(replay.toString).toDF("line")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Int)]
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // one file per trigger → every line in the batch shares a chunk
        val m = graft.sources.Formats
          .ingestChunkMetrics(batch, schema, maxBadPpm = 400000L)
          .collect()
        assert(m.length === 1, "a micro-batch must be exactly one chunk")
        val r = m.head
        got += ((r.getAs[Int]("chunk_id"), r.getAs[Long]("n_input"),
          r.getAs[Long]("n_quarantined"), r.getAs[Long]("bad_ppm"),
          r.getAs[Int]("tripped")))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val batchLedger = SparkEntry
      .queries("st15_stream_ingest_breaker")(spark, dir).collect()
      .map(r => (r.getAs[Int]("chunk_id"), r.getAs[Long]("n_input"),
        r.getAs[Long]("n_quarantined"), r.getAs[Long]("bad_ppm"),
        r.getAs[Int]("tripped")))
    assert(got.sortBy(_._1).toSeq === batchLedger.sortBy(_._1).toSeq)
    assert(batchLedger.count(_._5 == 1) === 2, "two chunks past 400000 ppm")
    assert(batchLedger.count(_._5 == 0) === 1, "background noise flows")

    // arm the breaker: the stream must DIE on the first tripping chunk
    val armed = spark.readStream.option("maxFilesPerTrigger", 1)
      .textFile(replay.toString).toDF("line")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val parsed = graft.sources.Formats.parseCsvTolerant(batch, schema)
        graft.sources.Formats.requireQuarantineRate(parsed, 400000L)
      }
      .start()
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try armed.processAllAvailable() finally armed.stop()
      armed.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causes(died).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("ingest circuit breaker")),
      s"expected the i04 breaker in the cause chain, got: $died")
  }

  test("streaming hourly windows == batch hourly windows") {
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.hourlyByType(stream.withWatermark("ts", "2 hours"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly_out")
      .orderBy(col("win_start"), col("event_type")).collect().map(_.toSeq)
    val batch = EventStreams.hourlyByType(Tables.load(spark, dir, "events"))
      .orderBy(col("win_start"), col("event_type")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream-static enrichment join == batch (dimension broadcasts, no join state)") {
    val nation = Tables.load(spark, dir, "nation")
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.enrichByNation(stream, nation)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("enrich_out")
      .orderBy(col("n_name")).collect().map(_.toSeq)
    val batch = EventStreams.enrichByNation(
        Tables.load(spark, dir, "events"), nation)
      .orderBy(col("n_name")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming dedup collapses a doubled stream to the original") {
    val d = streamDir
    val doubled = EventStreams.readEventsStream(spark, d)
      .union(EventStreams.readEventsStream(spark, d))
    val q = EventStreams.dedupEvents(doubled.withWatermark("ts", "2 hours"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_out").count()
    val batch = Tables.load(spark, dir, "events").count()
    assert(streamed === batch)
  }

  test("streaming incremental LSH probe == batch (st14: stateless probe vs static index)") {
    // the day-2 dedup loop under readStream: new docs stream in, the
    // corpus band index is the static join side. The probe must be
    // append-mode with ZERO stateful operators (row-local signatures,
    // first-matching-band dedup inside the join) — if any aggregation
    // sneaks into the stream side, .start() itself throws.
    import graft.operators.Dedup
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val d = Files.createTempDirectory("docs-stream")
    newDocs.write.mode("overwrite").parquet(d.toString + "/p")
    val stream = spark.readStream.schema(newDocs.schema).parquet(d.toString + "/p")
    val q = Dedup.streamingLshProbe(corpus, stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("st14_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("st14_out")
      .orderBy(col("doc_id"), col("match_id")).collect().map(_.toSeq)
    val batch = Dedup.streamingLshProbe(corpus, newDocs)
      .orderBy(col("doc_id"), col("match_id")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming parquet sink writes windows readable as a table") {
    val out = Files.createTempDirectory("stream-sink").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.hourlyByType(stream.withWatermark("ts", "2 hours"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(out)
    // append mode emits only watermark-closed windows: all but the last
    // open ones; compare against the batch result restricted likewise
    val batch = EventStreams.hourlyByType(Tables.load(spark, dir, "events"))
    assert(written.count() > 0)
    assert(written.count() <= batch.count())
    val joined = written.join(batch,
      Seq("win_start", "event_type", "n", "total_value"), "left_anti")
    assert(joined.count() === 0, "sink rows must be a subset of batch rows")
  }

  test("streaming stateful threshold alerts == batch") {
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.thresholdAlerts(stream).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("alerts_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("alerts_out")
      .orderBy(col("user_id")).collect().map(_.toSeq)
    val batch = EventStreams.thresholdAlerts(Tables.load(spark, dir, "events")).toDF()
      .orderBy(col("user_id")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming disorder audit == batch (stateful fold == declarative window)") {
    // two genuinely different formulations — flatMapGroupsWithState fold
    // vs running-max window + aggregation — must agree exactly
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.disorderAudit(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("audit_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("audit_out")
      .orderBy(col("user_id")).collect().map(_.toSeq)
    val batch = EventStreams.disorderAudit(Tables.load(spark, dir, "events"))
      .orderBy(col("user_id")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming HLL register maintenance == batch registers (st13)") {
    // the persisted-sketch artifact maintained live: complete-mode
    // max(rho) per bucket over the stream must equal the batch register
    // table register-for-register — the same fold d11/p08/e02 certify for
    // batch slices, here across micro-batches
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = graft.operators.Profile.hllRegisters(stream, col("user_id"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_reg_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hll_reg_out")
      .orderBy(col("bucket")).collect().map(_.toSeq)
    val batch = graft.operators.Profile.hllRegisters(
        Tables.load(spark, dir, "events"), col("user_id"))
      .orderBy(col("bucket")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming ingest front-end == batch corpus build (quality -> decontaminate -> dedup)") {
    // one document per micro-batch in doc_id order: "first arrival wins"
    // is then exactly the batch min-keeper, so the comparison is the full
    // admitted (doc_id, fp) row set — keeper identity, not count parity
    import graft.operators.{Dedup, Pipeline}
    import graft.functions.TextFns
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") >= 20)
    val evalSet = docs.filter(col("doc_id") < 20)
    val evalShingles = Dedup.shinglesN(evalSet, 5)
      .select(col("s")).distinct().collect().map(_.getString(0)).toSeq

    val replayDir = Files.createTempDirectory("graft-ingest-replay")
    val ids = corpus.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    ids.zipWithIndex.foreach { case (id, i) =>
      val tmp = Files.createTempDirectory("graft-ingest-chunk").toString
      corpus.filter(col("doc_id") === id)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, replayDir.resolve(f"chunk-$i%05d.parquet"))
    }
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(replayDir.toString)
    val q = Pipeline.streamIngestFrontEnd(stream, evalShingles)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_out").start()
    try q.processAllAvailable() finally q.stop()

    // the batch front end, component-by-component as corpusBuild runs it
    val qualified = corpus.filter(TextFns.qualityScore(col("text")) >= 0.7)
    val contaminated = Dedup.decontaminate(qualified, evalSet, 5)
      .filter(col("contaminated") === 1).select(col("doc_id"))
    val clean = qualified.join(contaminated, Seq("doc_id"), "left_anti")
    val batch = Dedup.exactDedup(clean).filter(!col("is_dup"))
      .select(col("doc_id"))
      .join(clean.select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("fp")), Seq("doc_id"))

    val streamed = spark.table("ingest_out")
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    val expected = batch.orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === expected.toSeq)
  }

  test("streaming sessionization == batch sessionization") {
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.sessions(stream.withWatermark("ts", "2 hours"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sessions_out").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("sessions_out")
      .orderBy(col("user_id"), col("s_start")).collect().map(_.toSeq)
    val batch = EventStreams.sessions(Tables.load(spark, dir, "events"))
      .orderBy(col("user_id"), col("s_start")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream-stream LEFT OUTER interval join == batch, once the watermark flushes") {
    import spark.implicits._
    val d = streamDir
    // Outer rows for unmatched clicks emit only when the watermark passes
    // l_ts + gap; on a finite replay the tail's windows never close
    // without a flush sentinel past the corpus — the streaming analogue
    // of end-of-input. The sentinel must be one row PER JOIN SIDE:
    // Catalyst pushes the event_type filters below the EventTimeWatermark
    // node (they don't reference ts), so each side's watermark advances
    // only on rows surviving its own filter, and a neither-type row is
    // invisible to both (StreamBench measured the resulting stall: 70
    // stranded tail rows at sf0.1). user_id = -1 keeps the sentinels out
    // of every real join key; the compare excludes them.
    // The sentinel file must carry the SAME physical ts type as the copied
    // fixture (the stream declares one schema over $d/*), so probe the
    // layout and write to match — legacy INT64-nanos or native timestamp.
    val tsType = spark.read.parquet(d).schema("ts").dataType
    val maxMicros = Tables.eventsNormalizeTs(spark.read.parquet(d))
      .agg(max(unix_micros(col("ts")))).as[Long].head()
    val sentinelMicros = maxMicros + 86400L * 1000000L
    Seq((-1L, sentinelMicros, -1L, "click", 0.0, "{}"),
        (-2L, sentinelMicros, -1L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        if (tsType == org.apache.spark.sql.types.LongType) col("ts") * 1000L
        else timestamp_micros(col("ts")).cast(tsType))
      .write.parquet(s"$d/zz_sentinel")
    val stream = EventStreams.readEventsStream(spark, s"$d/*")
      .withWatermark("ts", "2 hours")
    val q = EventStreams.intervalJoinOuter(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("ijo_out").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("ijo_out").filter(col("user_id") >= 0)
      .orderBy(col("user_id"), col("l_id"), col("r_id")).collect().map(_.toSeq)
    val batch = EventStreams.intervalJoinOuter(Tables.load(spark, dir, "events"))
      .orderBy(col("user_id"), col("l_id"), col("r_id")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.count(_(4) == 0) > 0, "no unmatched clicks flushed — watermark never closed the tail windows")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream-stream interval join == batch interval join") {
    // genuine stream-stream join: both sides derive from one watermarked
    // file stream; the event-time range condition bounds the state
    val stream = EventStreams.readEventsStream(spark, streamDir)
      .withWatermark("ts", "2 hours")
    val q = EventStreams.intervalJoin(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("ij_out").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("ij_out")
      .orderBy(col("user_id"), col("l_id"), col("r_id")).collect().map(_.toSeq)
    val batch = EventStreams.intervalJoin(Tables.load(spark, dir, "events"))
      .orderBy(col("user_id"), col("l_id"), col("r_id")).collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("restart from checkpoint is exactly-once: kill mid-replay, resumed file sink == batch") {
    // The operational claim a 100 TB ingest depends on: a streaming job
    // killed at an arbitrary point resumes from its checkpoint with no
    // loss and no duplicates. The stateful alerts operator (per-user
    // flatMapGroupsWithState) replays the events table as 10 one-file
    // micro-batches into a transactional parquet sink; the query is
    // STOPPED after a few committed batches (a crash at a batch
    // boundary), then a NEW query with the same checkpoint + sink path
    // finishes the replay. Recovery must restore the state store (users
    // mid-accumulation) and the file-sink log (no re-emitted alerts), so
    // the final sink contents equal the batch run exactly. Chunks are
    // cut in EVENT-TIME order (alert CONTENT depends on the cumulative
    // fold order, so a random chunking would fire alerts on different
    // events than the batch run — the count-match in StreamBench hides
    // that; this content compare does not).
    import org.apache.spark.sql.expressions.Window
    val staging = Files.createTempDirectory("events-recovery").toString
    val orderedEv = Tables.load(spark, dir, "events")
      .withColumn("_b", ntile(10).over(
        Window.orderBy(col("ts"), col("event_id"))))
    for (i <- 1 to 10) {
      val tmp = Files.createTempDirectory("events-recovery-chunk").toString
      orderedEv.filter(col("_b") === i).drop("_b")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(staging).resolve(f"chunk-$i%04d.parquet"))
    }
    val out = Files.createTempDirectory("recovery-sink").toString
    val ckpt = Files.createTempDirectory("recovery-ckpt").toString
    val schema = spark.read.parquet(staging).schema
    def alertsQuery() = EventStreams.thresholdAlerts(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(staging)).toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()

    val q1 = alertsQuery()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while ((q1.lastProgress == null || q1.lastProgress.batchId < 3) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(q1.lastProgress != null && q1.lastProgress.batchId >= 3,
        "first query never committed its early batches")
    } finally q1.stop()

    val q2 = alertsQuery()
    try q2.processAllAvailable() finally q2.stop()

    val resumed = spark.read.parquet(out)
      .orderBy(col("user_id")).collect().map(_.toSeq)
    val batch = EventStreams.thresholdAlerts(
        spark.read.parquet(staging)).toDF()
      .orderBy(col("user_id")).collect().map(_.toSeq)
    assert(resumed.nonEmpty)
    assert(resumed.toSeq === batch.toSeq)
  }
}
