package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.store.TableStore
import graft.streaming.Streaming

class StreamingMultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** events at sf0.001 rewritten as UTC-instant micros parquet (legacy
    * testdata is TIMESTAMP(NANOS) → nanos long; current testdata is
    * tz-naive micros → TIMESTAMP_NTZ; the file-stream source wants a plain
    * TIMESTAMP either way). */
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft_events").toString
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val ev = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
    ev.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  /** File-source stream of the event batches dropped into `dir`. */
  private def eventsStream(dir: String) = spark.readStream
    .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
    .parquet(dir)

  /** Starts a gate with `Streaming.crashHook` throwing once at batch `at`
    * (after the index appends, before the clean commit) and expects the
    * query to die; then restarts it from the same checkpoint and drains. */
  private def killAndRestart(at: Long)(
      gate: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    Streaming.crashHook = (_, b) =>
      if (b == at) {
        Streaming.crashHook = (_, _) => ()
        sys.error("injected crash between index append and clean commit")
      }
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        gate().awaitTermination(120000)
      }
    } finally Streaming.crashHook = (_, _) => ()
    assert(gate().awaitTermination(120000), "restarted gate did not finish")
  }

  test("streaming tumbling agg over a file source matches the batch result") {
    val stream = Streaming.tumblingAgg(eventsStream(eventsDir))
    val q = stream.writeStream.format("memory").queryName("tumbling_test")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_test")
      .groupBy("win_start", "event_type").agg(max("n_events").as("n_events"))
    val batch = spark.read.parquet(eventsDir)
      .groupBy(window($"ts", "1 hour")("start").as("win_start"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.join(batch, Seq("win_start", "event_type"))
      .where(streamed("n_events") =!= batch("n_events")).isEmpty)
    assert(streamed.count() == batch.count())
  }

  test("streaming drift monitor matches its batch mirror and flags planted drift") {
    val base = Seq.fill(10)(0.1)
    val stream = Streaming.driftMonitor(eventsStream(eventsDir),
      base, "value", lo = 0.0, width = 50.0, window_ = "1 day", watermark = "2 days")
    val q = stream.writeStream.format("memory").queryName("drift_test")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("drift_test")
      .groupBy("win_start").agg(max("n_events").as("n_events"), max("psi").as("psi"))
    val batch = Streaming.driftMonitor(spark.read.parquet(eventsDir),
      base, "value", lo = 0.0, width = 50.0, window_ = "1 day", watermark = "2 days")
    assert(streamed.join(batch, Seq("win_start"))
      .where(streamed("psi") =!= batch("psi") ||
        streamed("n_events") =!= batch("n_events")).isEmpty)
    assert(streamed.count() == batch.count())
    // planted drift: squash every value into bin 0 -> PSI far above the 0.25 gate
    val drifted = spark.read.parquet(eventsDir).withColumn("value", lit(1.0))
    val flagged = Streaming.driftMonitor(drifted, base, "value", 0.0, 50.0,
      window_ = "1 day")
    assert(flagged.agg(min($"psi")).head().getDouble(0) > 0.25)
  }

  test("native SpaceSaving aggregate works in a streaming query (complete mode)") {
    val stream = graft.ops.Sketches.topKApprox(
      eventsStream(eventsDir).select($"event_type",
        ($"user_id" % 10).cast("string").as("item")),
      Seq("event_type"), "item", k = 3, capacity = 64)
    val q = stream.writeStream.format("memory").queryName("topk_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("topk_test")
    val batch = graft.ops.Sketches.topKApprox(
      spark.read.parquet(eventsDir).select($"event_type",
        ($"user_id" % 10).cast("string").as("item")),
      Seq("event_type"), "item", k = 3, capacity = 64)
    // capacity > distinct items -> exact regime -> stream == batch exactly
    assert(streamed.count() == batch.count())
    assert(streamed.join(batch, Seq("event_type", "rank"))
      .where(streamed("item") =!= batch("item") ||
        streamed("cnt") =!= batch("cnt")).isEmpty)
  }

  test("streaming sliding-window agg matches the batch sliding windows") {
    val stream = Streaming.slidingAgg(eventsStream(eventsDir),
      window_ = "1 hour", slide = "30 minutes")
    val q = stream.writeStream.format("memory").queryName("sliding_test")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sliding_test")
      .groupBy("win_start", "event_type").agg(max("n_events").as("n_events"))
    val batch = spark.read.parquet(eventsDir)
      .groupBy(window($"ts", "1 hour", "30 minutes")("start").as("win_start"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.join(batch, Seq("win_start", "event_type"))
      .where(streamed("n_events") =!= batch("n_events")).isEmpty)
    assert(streamed.count() == batch.count())
  }

  test("streaming session_window agg: emitted sessions match the batch sessionize rollup") {
    // session-window agg only supports APPEND: sessions are emitted once
    // finalized by the watermark, so sessions near the stream tail are
    // (correctly) withheld — compare the emitted prefix against batch.
    val stream = Streaming.sessionAgg(eventsStream(eventsDir),
      gap = "30 minutes", watermark = "0 seconds")
    val q = stream.writeStream.format("memory").queryName("session_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("session_test")
      .select($"user_id", $"session_start", $"n_events".as("s_n"))
    val batch = graft.ops.Windows.sessionize(spark.read.parquet(eventsDir),
        "user_id", "ts", gapMicros = 30L * 60 * 1000000, tiebreak = Seq("event_id"))
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("session_start"), count(lit(1)).as("b_n"))
    val joined = streamed.join(batch, Seq("user_id", "session_start"))
    assert(streamed.count() > 0)
    assert(joined.count() == streamed.count()) // every emitted session exists in batch
    assert(joined.where($"s_n" =!= $"b_n").isEmpty) // with identical event counts
  }

  test("stream-stream band join matches the equivalent batch join") {
    val joined = Streaming.streamStreamJoin(
      eventsStream(eventsDir),
      eventsStream(eventsDir), bandSeconds = 900)
    val q = joined.writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val batchEvents = spark.read.parquet(eventsDir)
    val batchJoined = Streaming.streamStreamJoin(batchEvents, batchEvents,
      bandSeconds = 900) // watermark is a no-op on batch frames
    assert(spark.table("ssjoin_test").count() == batchJoined.count())
    assert(batchJoined.count() > batchEvents.count()) // band produced real matches
  }

  test("stream-static dimension enrichment matches the batch join; dim misses stay null") {
    val dim = Seq((0L, "bronze"), (1L, "silver"), (2L, "gold"))
      .toDF("tier_key", "tier") // user_id % 5 > 2 has no dim row
    val enriched = Streaming.enrichWithDim(
      eventsStream(eventsDir)
        .withColumn("tier_key", $"user_id" % 5), dim, Seq("tier_key"))
    val q = enriched.writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val batch = spark.read.parquet(eventsDir)
      .withColumn("tier_key", $"user_id" % 5)
      .join(dim, Seq("tier_key"), "left")
    val streamed = spark.table("enrich_test")
    assert(streamed.count() == batch.count()) // left join: no stream rows lost
    assert(streamed.where($"tier".isNull).count() == batch.where($"tier".isNull).count())
    val byTier = streamed.groupBy("tier").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val byTierBatch = batch.groupBy("tier").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byTier == byTierBatch)
  }

  test("dropDuplicatesWithinWatermark removes replayed events from the stream") {
    // replay the whole feed twice into one source dir
    val dupDir = Files.createTempDirectory("graft_dup_events").toString
    val ev = spark.read.parquet(eventsDir)
    ev.coalesce(1).write.mode("overwrite").parquet(dupDir)
    ev.coalesce(1).write.mode("append").parquet(dupDir)
    val dedup = Streaming.dedupWithinWatermark(
      eventsStream(dupDir), Seq("event_id"))
    val q = dedup.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dedup_test").select("event_id").distinct().count() == ev.count())
    assert(spark.table("dedup_test").count() == ev.count())
  }

  test("stateful runningPerUser accumulates counts via mapGroupsWithState") {
    val stream = Streaming.runningPerUser(spark, eventsStream(eventsDir))
    val q = stream.writeStream.format("memory").queryName("running_test")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("running_test").groupBy("user_id").agg(max("n").as("n"))
    val expected = spark.read.parquet(eventsDir).groupBy("user_id").count()
    assert(got.join(expected, "user_id").where($"n" =!= $"count").isEmpty)
  }

  test("foreachBatch streams into the TableStore idempotently") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_ss").toString)
    val agg = Streaming.tumblingAgg(eventsStream(eventsDir))
    val cp = Files.createTempDirectory("graft_cp").toString
    val q = Streaming.streamIntoStore(agg, store, "event_features",
      Seq("win_start", "event_type"), cp)
    q.awaitTermination(60000)
    val n = store.read("event_features").count()
    assert(n > 0)
    // PK uniqueness after merge
    assert(store.read("event_features")
      .groupBy("win_start", "event_type").count().where($"count" > 1).isEmpty)
  }

  test("streaming ingest gate: per-batch incremental dedup + decontam equals one-shot") {
    import graft.text.Dedup
    val t1 = "documents about engines partitions and shuffles in production"
    val t4 = "completely different content covering storage formats and codecs"
    val t6 = "yet another unique page on watermarks and state stores"
    val t8 = "final unique entry describing broadcast joins and skew"
    val benchTxt = "alpha beta gamma delta epsilon one two three four five"
    val docs = Seq(
      (1L, t1), (2L, t1),                        // exact dup pair
      (3L, benchTxt + " extra"),                 // near-copy of the bench item
      (4L, t4), (5L, t1),                        // another dup of t1
      (6L, t6), (7L, benchTxt),                  // exact copy of the bench item
      (8L, t8)).toDF("doc_id", "text")
    val bench = Seq((900L, benchTxt)).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_gate").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val store = new TableStore(spark, Files.createTempDirectory("graft_gate_st").toString)
    val cp = Files.createTempDirectory("graft_gate_cp").toString
    val stream = spark.readStream
      .schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the ingest gate: corpus-dup flagging via the fingerprint store,
        // benchmark decontamination via the broadcast-bench fuzzy probe
        val flagged = Dedup.exactIncremental(store, "sigs", batch, "text", "doc_id")
        val contaminated = Dedup.fuzzyContamination(batch, "text", "doc_id",
          bench, "text", "doc_id", threshold = 0.5).select("id").distinct()
        val kept = flagged.where(col("kept"))
          .join(contaminated, flagged("doc_id") === contaminated("id"), "left_anti")
          .select("doc_id", "text")
        if (!kept.isEmpty) {
          if (store.exists("clean")) store.upsert("clean", kept, Seq("doc_id"))
          else store.overwrite("clean", kept, primaryKeys = Seq("doc_id"))
        }
        ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val cleanTexts = store.read("clean").select("text").as[String].collect().toSeq
    // exactly one survivor per distinct clean text; contaminated docs gone
    assert(cleanTexts.sorted == Seq(t1, t4, t6, t8).sorted)
  }

  test("streaming composed curation ingest: dedup + decontam + IVF index across triggers ≡ one-shot") {
    import graft.text.Dedup
    import graft.sim.{Cluster, IvfIndex}
    val t1 = "documents about engines partitions and shuffles in production"
    val t4 = "completely different content covering storage formats and codecs"
    val t6 = "yet another unique page on watermarks and state stores"
    val t8 = "final unique entry describing broadcast joins and skew"
    val benchTxt = "alpha beta gamma delta epsilon one two three four five"
    val docs = Seq(
      (1L, t1, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, t1, Seq(0.9, 0.1, 0.0, 0.0)),               // exact dup of t1
      (3L, benchTxt + " extra", Seq(0.0, 1.0, 0.0, 0.0)), // contaminated
      (4L, t4, Seq(0.0, 0.9, 0.1, 0.0)),
      (5L, t1, Seq(0.8, 0.2, 0.0, 0.0)),               // another t1 dup
      (6L, t6, Seq(0.1, 0.0, 0.9, 0.0)),
      (7L, benchTxt, Seq(0.0, 0.0, 0.0, 1.0)),         // contaminated
      (8L, t8, Seq(0.9, 0.0, 0.1, 0.0)))
      .toDF("doc_id", "text", "embedding")
    val bench = Seq((900L, benchTxt)).toDF("doc_id", "text")
    val centroids = Seq(Seq(1000000L, 0L, 0L, 0L), Seq(0L, 1000000L, 0L, 0L))
    val dir = Files.createTempDirectory("graft_ci").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val store = new TableStore(spark, Files.createTempDirectory("graft_ci_st").toString)
    val cp = Files.createTempDirectory("graft_ci_cp").toString
    val stream = spark.readStream
      .schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // full curation gate: corpus-dup flag → benchmark decontam →
        // survivors upserted AND IVF-indexed, all against persisted state
        val flagged = Dedup.exactIncremental(store, "sigs", batch, "text", "doc_id")
        val contaminated = Dedup.fuzzyContamination(batch, "text", "doc_id",
          bench, "text", "doc_id", threshold = 0.5).select("id").distinct()
        val kept = flagged.where(col("kept"))
          .join(contaminated, flagged("doc_id") === contaminated("id"), "left_anti")
          .select("doc_id", "text", "embedding")
        if (!kept.isEmpty) {
          if (store.exists("clean")) store.upsert("clean", kept, Seq("doc_id"))
          else store.overwrite("clean", kept, primaryKeys = Seq("doc_id"))
          IvfIndex.assignIncremental(store, "ivf", kept, "doc_id", "embedding",
            centroids)
          ()
        }
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // gate outcome: one survivor per clean text, contaminated gone
    val clean = store.read("clean")
    assert(clean.select("text").as[String].collect().toSeq.sorted ==
      Seq(t1, t4, t6, t8).sorted)
    // stream ≡ batch for the index leg: N incremental assignments equal ONE
    // one-shot assignment over the final clean set, bit-for-bit
    val streamedPostings = IvfIndex.postings(store, "ivf")
      .as[(Long, Int)].collect().toSet
    val oneShot = Cluster.assignQuantized(clean, "embedding", centroids)
      .select(col("doc_id").cast("long"), col("cluster"))
      .as[(Long, Int)].collect().toSet
    assert(streamedPostings == oneShot && streamedPostings.size == 4)
    // the stored index answers searches: a probe next to doc 4's vector
    // finds doc 4 at rank 1 through ONE probed bucket
    val probe = Seq((100L, Seq(0.0, 0.89, 0.1, 0.0))).toDF("qid", "v")
    val hit = IvfIndex.searchStored(store, "ivf", probe, "qid", "v",
        centroids, k = 1, nProbe = 1)
      .select("neighbor_id").as[Long].head()
    assert(hit == 4L)
  }

  test("streaming containment gate: a later-arriving quote of ingested content is dropped") {
    import graft.text.Dedup
    val pages = Seq(
      (1L, (1 to 40).map(i => "word" + i).mkString(" ")),
      (2L, "a separate page about completely unrelated topics and things"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (3L, (1 to 12).map(i => "word" + i).mkString(" ")), // quote of doc 1
      (4L, "genuinely novel content never seen in any earlier page today"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cg").toString
    pages.coalesce(1).write.mode("append").parquet(dir)
    // pin arrival ORDER: the file source processes files in mtime order,
    // so the pages must be strictly older than the quote batch
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000)
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, old))
    arrivals.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(spark, Files.createTempDirectory("graft_cg_st").toString)
    val cp = Files.createTempDirectory("graft_cg_cp").toString
    val q = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // quote-of-corpus gate: containment probe vs the persisted gram
        // index; survivors are indexed and kept (first batch seeds)
        val kept =
          if (!store.exists("cpost")) batch
          else {
            val contained = Dedup.containmentIncremental(store,
                "cpost", "cdf", "cgrams", batch, "text", "doc_id",
                threshold = 0.8)
              .select(col("probe_id").as("doc_id")).distinct()
            batch.join(contained, Seq("doc_id"), "left_anti")
          }
        if (!kept.isEmpty) {
          Dedup.seedGramIndex(store, "cpost", "cdf", "cgrams",
            kept, "text", "doc_id")
          if (store.exists("clean"))
            store.upsert("clean", kept.select("doc_id", "text"), Seq("doc_id"))
          else store.overwrite("clean", kept.select("doc_id", "text"),
            primaryKeys = Seq("doc_id"))
          ()
        }
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val clean = store.read("clean").select("doc_id").as[Long].collect().sorted.toSeq
    assert(clean == Seq(1L, 2L, 4L)) // the quote (3) was gated out
  }

  test("containmentIngestGate (production op): quote gated out, survivors " +
      "indexed append-only, replayed seeds leave results unchanged") {
    import graft.text.Dedup
    val pages = Seq(
      (1L, (1 to 40).map(i => "word" + i).mkString(" ")),
      (2L, "a separate page about completely unrelated topics and things"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (3L, (1 to 12).map(i => "word" + i).mkString(" ")), // quote of doc 1
      (4L, "genuinely novel content never seen in any earlier page today"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cg2").toString
    pages.coalesce(1).write.mode("append").parquet(dir)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000)
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, old))
    arrivals.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_cg2_st").toString)
    val cp = Files.createTempDirectory("graft_cg2_cp").toString
    val q = Streaming.containmentIngestGate(
      spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      "text", "doc_id", store, "cpost", "cdf", "cgrams", "clean",
      cp, threshold = 0.8)
    q.awaitTermination(120000)
    def cleanIds = store.read("clean").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(cleanIds == Seq(1L, 2L, 4L)) // the quote (3) was gated out
    // clean holds exactly the arrival columns; the last batch's txn rides
    // its metadata, committed with the append
    assert(store.read("clean").columns.toSeq == Seq("doc_id", "text"))
    assert(store.meta("clean").flatMap(_.txn).map(t => (t.app, t.batch)) == Some((cp, 1L)))
    // a replayed (at-least-once) index seed appends DUPLICATE postings and
    // gram rows; the probe must be duplicate-tolerant: same verdicts, no
    // duplicate pairs
    Dedup.seedGramIndex(store, "cpost", "cdf", "cgrams",
      pages, "text", "doc_id", appendOnly = true)
    assert(store.read("cgrams").where($"id" === 1L).count() == 2) // dup rows exist
    val probe = Dedup.containmentIncremental(store, "cpost", "cdf", "cgrams",
        Seq((5L, (1 to 12).map(i => "word" + i).mkString(" ")))
          .toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probe == Seq((5L, 1L, 1.0))) // one pair, exactly once
  }

  test("containmentIngestGate: replay after a crashed index seed does not " +
      "lose the batch — INCLUDING batch-internal contained pairs (r13 advice)") {
    // the crash window: the first attempt seeded the batch into the index
    // but died before the clean commit. The replayed probe reads the index
    // as of the version before this batch's txn, so a quote AND ITS SOURCE
    // arriving in the same batch keep their no-crash outcome (batch-
    // internal pairs out of scope) instead of the quote anti-joining out
    val pages = Seq(
      (1L, (1 to 40).map(i => "word" + i).mkString(" ")),
      (2L, "a separate page about completely unrelated topics and things"),
      (3L, (1 to 12).map(i => "word" + i).mkString(" "))) // quote of 1, SAME batch
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cg3").toString
    pages.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_cg3_st").toString)
    val cp = Files.createTempDirectory("graft_cg3_cp").toString
    killAndRestart(at = 0) { () =>
      Streaming.containmentIngestGate(
        spark.readStream.schema(pages.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir),
        "text", "doc_id", store, "cpost", "cdf", "cgrams", "clean",
        cp, threshold = 0.8)
    }
    // the crashed attempt seeded all three docs once; the replay added none
    assert(store.read("cgrams").count() == 3)
    // all three survive — the no-crash outcome (3 probes nothing OUTSIDE
    // its own batch); a blanket self-exclusion kept 1 and 2 but silently
    // lost the quote 3 to its same-batch source on replay
    assert(store.read("clean").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L))
  }

  test("containmentIngestGate: a SAME-ID doc re-sent in a later batch is " +
      "gated as a duplicate (no silent PK dup through appendFiles)") {
    val pages = Seq(
      (1L, (1 to 40).map(i => "word" + i).mkString(" ")),
      (2L, "a separate page about completely unrelated topics and things"))
      .toDF("doc_id", "text")
    // batch 2 re-sends doc 1 verbatim (same id) plus a novel doc: the
    // replay-scoped exclusion must NOT wave the duplicate through — it
    // self-matches at containment 1.0 against the batch-0-seeded corpus
    val resend = Seq(
      (1L, (1 to 40).map(i => "word" + i).mkString(" ")),
      (4L, "genuinely novel content never seen in any earlier page today"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cg4").toString
    pages.coalesce(1).write.mode("append").parquet(dir)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000)
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, old))
    resend.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_cg4_st").toString)
    val q = Streaming.containmentIngestGate(
      spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      "text", "doc_id", store, "cpost", "cdf", "cgrams", "clean",
      Files.createTempDirectory("graft_cg4_cp").toString, threshold = 0.8)
    q.awaitTermination(120000)
    val clean = store.read("clean").select("doc_id").as[Long].collect().sorted.toSeq
    assert(clean == Seq(1L, 2L, 4L)) // id 1 exactly once — the resend was gated
  }

  test("containmentIngestGate compactEvery: version history pruned, index " +
      "still probes correctly after compaction") {
    // four single-doc batches with compactEvery = 2: compaction fires
    // after batches 1 and 3 — append-only versions are reconciled
    // (retain 2) and the compacted index must keep answering probes
    val docs = (1L to 4L).map(i =>
      (i, (1 to 30).map(j => s"page${i}word$j").mkString(" ")))
    val dir = Files.createTempDirectory("graft_cg6").toString
    docs.zipWithIndex.foreach { case (d, i) =>
      Seq(d).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
      val cutoff = System.currentTimeMillis() - (4 - i).toLong * 60000
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach { p =>
        if (java.nio.file.Files.getLastModifiedTime(p).toMillis > cutoff)
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(cutoff))
      }
    }
    val storeRoot = Files.createTempDirectory("graft_cg6_st").toString
    val store = new TableStore(spark, storeRoot)
    val q = Streaming.containmentIngestGate(
      spark.readStream.schema(Seq((1L, "x")).toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      "text", "doc_id", store, "cpost", "cdf", "cgrams", "clean",
      Files.createTempDirectory("graft_cg6_cp").toString, threshold = 0.8,
      compactEvery = 2)
    q.awaitTermination(120000)
    assert(store.read("clean").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 4L)) // all novel — everything kept
    // compaction reconciled versions: append-only alone would retain every
    // v=N dir (4+ per table); compact prunes to its retain window
    import scala.jdk.CollectionConverters._
    val vCount = java.nio.file.Files
      .list(java.nio.file.Paths.get(storeRoot, "cpost"))
      .iterator().asScala
      .count(_.getFileName.toString.startsWith("v="))
    assert(vCount <= 3, s"expected pruned version history, found $vCount dirs")
    // the compacted index still answers: a quote of doc 2 is gated
    val probe = graft.text.Dedup.containmentIncremental(store,
        "cpost", "cdf", "cgrams",
        Seq((9L, (1 to 12).map(j => s"page2word$j").mkString(" ")))
          .toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probe == Seq((9L, 2L)))
  }

  test("containmentIngestGate banded = true: winnowed index, same gate " +
      "semantics, fp-keyed tables") {
    import graft.text.Dedup
    val pages = Seq(
      (1L, (1 to 40).map(i => "word" + i).mkString(" ")),
      (2L, "a separate page about completely unrelated topics and things"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (3L, (1 to 12).map(i => "word" + i).mkString(" ")), // quote of doc 1
      (4L, "genuinely novel content never seen in any earlier page today"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_cg5").toString
    pages.coalesce(1).write.mode("append").parquet(dir)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000)
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, old))
    arrivals.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_cg5_st").toString)
    val q = Streaming.containmentIngestGate(
      spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      "text", "doc_id", store, "fpost", "fdf", "cgrams", "clean",
      Files.createTempDirectory("graft_cg5_cp").toString, threshold = 0.8,
      banded = true)
    q.awaitTermination(120000)
    assert(store.read("clean").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 4L)) // the quote (3) was gated out
    // the index really is the winnowed one: fp-keyed postings + fp df
    assert(store.read("fpost").columns.toSeq == Seq("fp", "id", "sz"))
    assert(store.read("fdf").columns.sorted.toSeq == Seq("df", "fp"))
    // and the banded probe answers a fresh quote exactly once
    val probe = Dedup.containmentIncrementalBanded(store, "fpost", "fdf",
        "cgrams",
        Seq((5L, (1 to 12).map(i => "word" + i).mkString(" ")))
          .toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probe == Seq((5L, 1L, 1.0)))
  }

  test("nearDupIngestGate (simhash): corpus near-dups AND within-batch " +
      "near-dups gated; later-batch same-id resend gated; survivors seed append-only") {
    val batch0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "completely different content about spark query engines and shuffles"))
      .toDF("doc_id", "text")
    val batch1 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog and runs far away now"), // near-dup of 1
      (4L, "a wholly novel page on streaming state stores and watermarks today"),
      (5L, "a wholly novel page on streaming state stores and watermarks now"), // within-batch near-dup of 4
      (2L, "completely different content about spark query engines and shuffles")) // same-id resend
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_nd1").toString
    batch0.coalesce(1).write.mode("append").parquet(dir)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000)
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, old))
    batch1.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_nd1_st").toString)
    val q = Streaming.nearDupIngestGate(
      spark.readStream.schema(batch0.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      "text", "doc_id", store, "shs", "clean",
      Files.createTempDirectory("graft_nd1_cp").toString,
      method = "simhash", maxHamming = 10)
    q.awaitTermination(120000)
    // 3 near-dups 1; 5 loses within-batch to 4; resent 2 self-matches at 0
    assert(store.read("clean").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 4L))
    // survivors seeded append-only: batch 1 added a second version via
    // file links, never a corpus rewrite (version advanced per batch)
    assert(store.currentVersion("shs") >= 1)
  }

  test("nearDupIngestGate (minhash): crash-replay keeps the no-crash " +
      "outcome — the seeded survivor does not self-match itself out") {
    // one batch: A (1), B (2, near-dup of A — within-batch loser), C (3,
    // novel). The crashed attempt registered the survivors' signatures
    // {1, 3}, then died before the clean commit. The replayed probe reads
    // the signatures as they were before this batch — without that, A
    // self-matches its own seeded signature at est-Jaccard 1.0 and is
    // silently lost from the clean output forever.
    val batch = Seq(
      (1L, (1 to 30).map(i => "tok" + i).mkString(" ")),
      (2L, (1 to 30).map(i => "tok" + i).mkString(" ") + " extra"),
      (3L, (100 to 130).map(i => "other" + i).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_nd2").toString
    batch.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_nd2_st").toString)
    val cp = Files.createTempDirectory("graft_nd2_cp").toString
    killAndRestart(at = 0) { () =>
      Streaming.nearDupIngestGate(
        spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir),
        "text", "doc_id", store, "sigs", "clean", cp,
        method = "minhash", threshold = 0.5)
    }
    assert(store.read("sigs").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(store.read("clean").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L)) // the no-crash outcome, exactly
  }

  test("nearDupIngestGate (embedding): corpus and within-batch semantic " +
      "near-dups gated; survivors' signatures visible to the next trigger") {
    val cents = Seq(Seq(1000000L, 0L, 0L, 0L), Seq(0L, 1000000L, 0L, 0L))
    val batch0 = Seq(
      (1L, Seq(1.0, 0.01, 0.0, 0.0)),   // cluster 0
      (2L, Seq(0.01, 1.0, 0.0, 0.0)))   // cluster 1
      .toDF("doc_id", "vec")
    val batch1 = Seq(
      (3L, Seq(0.99, 0.02, 0.0, 0.0)),  // semantic near-dup of 1
      (4L, Seq(0.6, 0.0, 0.8, 0.0)),    // novel (cos vs 1 ≈ 0.6)
      (5L, Seq(0.61, 0.0, 0.79, 0.0)))  // within-batch near-dup of 4
      .toDF("doc_id", "vec")
    val dir = Files.createTempDirectory("graft_nd3").toString
    batch0.coalesce(1).write.mode("append").parquet(dir)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000)
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, old))
    batch1.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_nd3_st").toString)
    val q = Streaming.nearDupIngestGate(
      spark.readStream.schema(batch0.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      "vec", "doc_id", store, "esigs", "clean",
      Files.createTempDirectory("graft_nd3_cp").toString,
      method = "embedding", threshold = 0.95, centroids = cents)
    q.awaitTermination(120000)
    assert(store.read("clean").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 4L)) // 3 near-dups 1; 5 loses within-batch to 4
    // the persisted signature is (cluster, int8 codes, scale) — and seeding
    // was append-only (one new version per trigger, never a rewrite)
    assert(store.read("esigs").columns.toSet ==
      Set("id", "cluster", "codes", "scale"))
    assert(store.currentVersion("esigs") >= 1)
    // a survivor's signature answers the NEXT batch: clone of 4 is flagged
    val probe = graft.sim.Cluster.embeddingIncremental(store, "esigs",
        Seq((9L, Seq(0.6, 0.01, 0.8, 0.0))).toDF("doc_id", "vec"),
        "vec", "doc_id", cents, threshold = 0.95)
    assert(probe.select("dup_of_corpus").as[Boolean].collect().toSeq == Seq(true))
  }

  test("nearDupIngestGate (embedding): crash-replay keeps the no-crash " +
      "outcome via the txn view") {
    // the minhash crash-replay scenario on the embedding method: the
    // crashed attempt registered the survivors' signatures {1, 3}, then
    // died before the clean commit — the replayed probe must read the
    // signatures as they were before this batch or 1 self-matches at
    // cosine 1.0
    val cents = Seq(Seq(1000000L, 0L, 0L, 0L), Seq(0L, 1000000L, 0L, 0L))
    val batch = Seq(
      (1L, Seq(1.0, 0.01, 0.0, 0.0)),
      (2L, Seq(0.999, 0.012, 0.0, 0.0)),  // within-batch loser to 1
      (3L, Seq(0.01, 1.0, 0.0, 0.0)))     // novel, other cluster
      .toDF("doc_id", "vec")
    val dir = Files.createTempDirectory("graft_nd4").toString
    batch.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_nd4_st").toString)
    val cp = Files.createTempDirectory("graft_nd4_cp").toString
    killAndRestart(at = 0) { () =>
      Streaming.nearDupIngestGate(
        spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir),
        "vec", "doc_id", store, "esigs", "clean", cp,
        method = "embedding", threshold = 0.95, centroids = cents)
    }
    assert(store.read("esigs").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(store.read("clean").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L)) // the no-crash outcome, exactly
  }

  /** Runs [[Streaming.nearDupIngestGate]] over two file triggers with the
    * store and the arrivals on a session whose function registry never saw
    * a graft kernel (`maxFilesPerTrigger = 1`; trigger 2 resends a
    * trigger-1 row under a new id). Returns the clean table's ids. */
  private def gateOnFreshSession(method: String, valueCol: String,
      triggers: org.apache.spark.sql.SparkSession =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      centroids: Seq[Seq[Long]] = Nil): Seq[Long] = {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_eq_positions"))
    val (t1, t2) = triggers(fresh)
    val dir = Files.createTempDirectory(s"graft_nd_fresh_$method").toString
    t1.coalesce(1).write.mode("append").parquet(dir)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000)
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, old))
    t2.coalesce(1).write.mode("append").parquet(dir)
    val store = new TableStore(fresh,
      Files.createTempDirectory(s"graft_nd_fresh_${method}_st").toString)
    val q = Streaming.nearDupIngestGate(
      fresh.readStream.schema(t1.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      valueCol, "doc_id", store, "sigs", "clean",
      Files.createTempDirectory(s"graft_nd_fresh_${method}_cp").toString,
      method = method, centroids = centroids)
    assert(q.awaitTermination(120000), "gate did not finish")
    store.read("clean").select("doc_id").as[Long].collect().sorted.toSeq
  }

  private def textTriggers(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    val fox = "the quick brown fox jumps over the lazy dog and runs far away home"
    (Seq((1L, fox),
        (2L, "completely different content about spark query engines and shuffles"))
        .toDF("doc_id", "text"),
      Seq((3L, fox), // resend of 1
        (4L, "a wholly novel page on streaming state stores and watermarks today"))
        .toDF("doc_id", "text"))
  }

  for (method <- Seq("minhash", "simhash"))
    test(s"nearDupIngestGate ($method) on a fresh session: the trigger-2 " +
        "resend is gated out, no unresolved kernel") {
      assert(gateOnFreshSession(method, "text", textTriggers) == Seq(1L, 2L, 4L))
    }

  test("nearDupIngestGate (embedding) on a fresh session: the trigger-2 " +
      "resend is gated out, no unresolved kernel") {
    val cents = Seq(Seq(1000000L, 0L, 0L, 0L), Seq(0L, 1000000L, 0L, 0L))
    def vecs(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      (Seq((1L, Seq(1.0, 0.01, 0.0, 0.0)), (2L, Seq(0.01, 1.0, 0.0, 0.0)))
          .toDF("doc_id", "vec"),
        Seq((3L, Seq(1.0, 0.01, 0.0, 0.0)), // resend of 1
          (4L, Seq(0.6, 0.0, 0.8, 0.0))).toDF("doc_id", "vec"))
    }
    assert(gateOnFreshSession("embedding", "vec", vecs, cents) == Seq(1L, 2L, 4L))
  }

  // ---- multimodal plumbing ----

  private lazy val assets = Multimodal.toAssets(
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
    "doc_id", "text", "text/plain")

  test("toAssets wraps blobs with typed metadata") {
    val r = assets.orderBy("asset_id").first()
    assert(r.schema.fieldNames.toSeq == Seq("asset_id", "blob", "meta"))
    val meta = r.getStruct(2)
    assert(meta.getAs[String]("media_type") == "text/plain")
    assert(meta.getAs[Int]("n_bytes") > 0)
    assert(meta.getAs[String]("checksum").length == 32)
  }

  test("extractFeatures: mapPartitions decode stage, deterministic output") {
    val f1 = Multimodal.extractFeatures(assets.repartition(4, $"asset_id"), dim = 8)
    val f2 = Multimodal.extractFeatures(assets.repartition(2), dim = 8)
    assert(f1.count() == 500)
    val a = f1.orderBy("asset_id").first()
    assert(a.getAs[scala.collection.Seq[Float]]("features").length == 8)
    // decode is a pure function of bytes: partitioning must not change results
    val j = f1.select($"asset_id", $"features".as("fa"))
      .join(f2.select($"asset_id", $"features".as("fb")), "asset_id")
    assert(j.where($"fa" =!= $"fb").isEmpty)
  }

  test("sampleFrames emits k byte-range frames per asset") {
    val frames = Multimodal.sampleFrames(assets, k = 4, frameLen = 64)
    assert(frames.count() == 500 * 4)
    assert(frames.groupBy("asset_id").count().where($"count" =!= 4).isEmpty)
    val r = frames.where($"asset_id" === 0).orderBy("frame_idx").collect()
    assert(r.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2, 3))
    assert(r.forall(_.getAs[Array[Byte]]("frame_bytes").nonEmpty))
  }

  test("resizeImages: deterministic byte-raster downsample, meta recomputed") {
    val resized = Multimodal.resizeImages(assets, maxEdge = 8)
    // same canonical (asset_id, blob, meta) schema as toAssets
    assert(resized.schema.fieldNames.toSeq == Seq("asset_id", "blob", "meta"))
    assert(resized.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("media_type", "n_bytes", "checksum"))
    val rows = resized.orderBy("asset_id").limit(5).collect()
    // every blob bounded by maxEdge² bytes, meta consistent with the blob
    rows.foreach { r =>
      val blob = r.getAs[Array[Byte]]("blob")
      assert(blob.length <= 64)
      assert(r.getStruct(2).getInt(1) == blob.length)
    }
    // deterministic: same input → identical checksums
    val c1 = resized.orderBy("asset_id").limit(5).collect().map(_.getStruct(2).getString(2)).toSeq
    assert(c1 == rows.map(_.getStruct(2).getString(2)).toSeq)
    // small blobs pass through untouched
    val small = Multimodal.toAssets(
      Seq((1L, "tiny")).toDF("id", "payload"), "id", "payload", "text/plain")
    val out = Multimodal.resizeImages(small, maxEdge = 256).head()
    assert(new String(out.getAs[Array[Byte]]("blob")) == "tiny")
    intercept[IllegalArgumentException](Multimodal.resizeImages(assets, 0))
  }

  test("real PNG blobs: ImageIO decode drives features and bilinear resize") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def png(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 1: left-black / right-white gradient; 2: all-black; 3: all-white
    val gradient = png(64, 48, (x, _) => { val v = x * 255 / 63; (v << 16) | (v << 8) | v })
    val black = png(64, 48, (_, _) => 0)
    val white = png(64, 48, (_, _) => 0xffffff)
    val imgs = Multimodal.toAssets(
      Seq((1L, gradient), (2L, black), (3L, white)).toDF("id", "payload"),
      "id", "payload", "image/png")
    val feats = Multimodal.extractFeatures(imgs, dim = 9)
      .orderBy("asset_id").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("features"))
    // luma grid reflects CONTENT, not bytes: black ≈ 0, white ≈ 1,
    // gradient strictly brighter on the right of each grid row
    assert(feats(1)._2.forall(_ < 0.01f))
    assert(feats(2)._2.forall(_ > 0.99f))
    val g = feats(0)._2
    assert(g(0) < g(1) && g(1) < g(2), s"row not increasing: $g")
    // real resize: 64×48 → maxEdge 16 becomes a 16×12 PNG (aspect kept)
    val resized = Multimodal.resizeImages(imgs, maxEdge = 16)
      .orderBy("asset_id").collect()
    resized.foreach { r =>
      val img = ImageIO.read(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("blob")))
      assert(img.getWidth == 16 && img.getHeight == 12)
      assert(r.getStruct(2).getString(0) == "image/png")
    }
    // within-budget image passes through byte-identical
    val kept = Multimodal.resizeImages(imgs, maxEdge = 64)
      .where($"asset_id" === 2).head().getAs[Array[Byte]]("blob")
    assert(kept.sameElements(black))
  }

  test("real JPEG blobs: ImageIO decode drives features and resize to PNG") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def jpg(f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(64, 48, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 64) img.setRGB(x, y, f(x, y))
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val dark = jpg((_, _) => 0)
    val bright = jpg((_, _) => 0xffffff)
    val imgs = Multimodal.toAssets(
      Seq((1L, dark), (2L, bright)).toDF("id", "payload"),
      "id", "payload", "image/jpeg")
    val feats = Multimodal.extractFeatures(imgs, dim = 9)
      .orderBy("asset_id").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("features"))
    // lossy codec → near-extreme, not exact; content is still what decides
    assert(feats(0)._2.forall(_ < 0.05f), s"dark jpeg: ${feats(0)._2}")
    assert(feats(1)._2.forall(_ > 0.95f), s"bright jpeg: ${feats(1)._2}")
    val resized = Multimodal.resizeImages(imgs, maxEdge = 16)
      .orderBy("asset_id").collect()
    resized.foreach { r =>
      val img = ImageIO.read(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("blob")))
      assert(img.getWidth == 16 && img.getHeight == 12)
      assert(r.getStruct(2).getString(0) == "image/png")
    }
  }

  // Hand-assembled RIFF/WAVE bytes: `nFrames` PCM frames from `gen(frame)`
  // in [-1,1], with a junk LIST chunk between fmt and data to exercise the
  // chunk walk.
  private def wavBytes(rate: Int, channels: Int, bits: Int, nFrames: Int,
                       gen: Int => Double): Array[Byte] = {
    val bps = bits / 8
    val dataLen = nFrames * channels * bps
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    tag("RIFF"); w32(4 + 24 + 12 + 8 + dataLen); tag("WAVE")
    tag("fmt "); w32(16); w16(1); w16(channels); w32(rate)
    w32(rate * channels * bps); w16(channels * bps); w16(bits)
    tag("LIST"); w32(4); tag("INFO") // extra chunk the walker must skip
    tag("data"); w32(dataLen)
    for (f <- 0 until nFrames; _ <- 0 until channels) {
      val v = gen(f)
      if (bits == 8) bos.write(((v * 127).toInt + 128) & 0xff)
      else w16(((v * 32767).toInt) & 0xffff)
    }
    bos.toByteArray
  }

  test("real WAV blobs: PCM decode drives envelope features and audioInfo") {
    // 16-bit mono, 8 kHz: first half silence, second half full-scale square
    val halfLoud = wavBytes(8000, 1, 16, 4000,
      f => if (f < 2000) 0.0 else if (f % 2 == 0) 1.0 else -1.0)
    // 8-bit stereo constant mid-level tone
    val stereo = wavBytes(11025, 2, 8, 1102, _ => 0.5)
    val notWav = "RIFFxxxx but not really".getBytes("US-ASCII")
    val assets = Multimodal.toAssets(
      Seq((1L, halfLoud), (2L, stereo), (3L, notWav)).toDF("id", "payload"),
      "id", "payload", "audio/wav")
    val feats = Multimodal.extractFeatures(assets, dim = 8)
      .orderBy("asset_id").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("features"))
    // envelope reflects CONTENT: silent first half ≈ 0, loud second ≈ 1
    val env = feats(0)._2
    assert(env.take(4).forall(_ < 0.01f), s"silent half: $env")
    assert(env.drop(4).forall(_ > 0.9f), s"loud half: $env")
    // 8-bit stereo mono-mix: constant ≈ 0.5 everywhere
    assert(feats(1)._2.forall(v => v > 0.45f && v < 0.55f), s"${feats(1)._2}")
    val info = Multimodal.audioInfo(assets).orderBy("asset_id").collect()
    assert(info(0).getBoolean(1) && info(0).getInt(2) == 8000 &&
      info(0).getInt(3) == 1 && info(0).getInt(4) == 16 &&
      info(0).getInt(5) == 4000 && info(0).getLong(6) == 500L)
    assert(info(1).getBoolean(1) && info(1).getInt(2) == 11025 &&
      info(1).getInt(3) == 2 && info(1).getInt(4) == 8 &&
      info(1).getInt(5) == 1102 && info(1).getLong(6) == 99L)
    assert(!info(2).getBoolean(1) && info(2).isNullAt(2))
  }
  test("incremental KS gate: delta-merged state matches the batch statistic") {
    val dir = Files.createTempDirectory("graft_ks_stream").toString
    val ckpt = Files.createTempDirectory("graft_ks_ckpt").toString
    val storeDir = Files.createTempDirectory("graft_ks_store").toString
    // three files -> three micro-batches under maxFilesPerTrigger=1
    val vals = (1 to 300).map(i => (i * 37 % 101).toDouble)
    vals.grouped(100).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("value").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/part$i")
    }
    val refRaw = (1 to 200).map(i => (i * 53 % 97).toDouble)
    val refCounts = refRaw.toDF("value")
      .groupBy("value").agg(count(lit(1)).as("ref_count"))
    val store = new TableStore(spark, storeDir)
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("value DOUBLE"))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/part*")
    val q = Streaming.incrementalKsGate(src, "value", refCounts, store,
      "ks_counts", ckpt,
      r => reports += r.as[(Long, Long, Long)].collect().head)
    try q.processAllAvailable() finally q.stop()
    assert(reports.size == 3)
    // accumulated counts grow monotonically across triggers
    assert(reports.map(_._2).sliding(2).forall(w => w.head < w.last))
    // the final gate report IS the batch statistic over ref + full stream
    val batchDf = refRaw.map(("a", _)).toDF("g", "value")
      .unionByName(vals.map(("b", _)).toDF("g", "value"))
    val want = graft.features.Features.ksStatistic(
        batchDf, "value", "g", "a", "b")
      .as[(Long, Long, Long)].collect().head
    assert(reports.last == want)
  }

  test("incremental KS gate: kill mid-stream, restart from checkpoint, dirty-replay a committed batch — exactly-once state") {
    val dir = Files.createTempDirectory("graft_ksr_stream").toString
    val ckpt = Files.createTempDirectory("graft_ksr_ckpt").toString
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_ksr_store").toString)
    val vals = (1 to 300).map(i => (i * 37 % 101).toDouble)
    vals.grouped(100).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("value").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/part$i")
    }
    val refCounts = (1 to 200).map(i => (i * 53 % 97).toDouble).toDF("value")
      .groupBy("value").agg(count(lit(1)).as("ref_count"))
    def src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("value DOUBLE"))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/part*")
    def run(): Int = {
      var n = 0
      val q = Streaming.incrementalKsGate(src, "value", refCounts, store,
        "ksr_counts", ckpt, _ => n += 1)
      try q.processAllAvailable() finally q.stop()
      n
    }
    def storedTotal(): Long = store.read("ksr_counts")
      .agg(sum("cur_count")).head().getLong(0)

    // phase 1: CRASH mid-stream, at the worst possible point — batch 1's
    // counts merge has COMMITTED to the store but its checkpoint offset
    // commit never happens (the injected throw fires after the merge,
    // inside the same foreachBatch). This is exactly the at-least-once
    // window a production failure exposes.
    var seen = 0
    val q1 = Streaming.incrementalKsGate(src, "value", refCounts, store,
      "ksr_counts", ckpt, { _ =>
        seen += 1
        if (seen == 2) sys.error("injected crash after batch-1 commit")
      })
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(120000)
    }
    val afterCrash = storedTotal()
    assert(afterCrash == 200L, s"afterCrash=$afterCrash") // batches 0+1 merged

    // phase 2: restart from the checkpoint — batch 1 is REPLAYED (its
    // offset never committed); the counts table already holds its txn, so
    // the merge is skipped, then batch 2 drains exactly once.
    run()
    assert(storedTotal() == 300L,
      "replayed batch double-merged the accumulated distribution")

    // phase 4: fresh data after recovery still merges exactly once, and
    // the gate report equals the batch statistic over everything seen
    val extra = (1 to 50).map(i => (i * 11 % 89).toDouble)
    extra.toDF("value").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/part9")
    val reports = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q4 = Streaming.incrementalKsGate(src, "value", refCounts, store,
      "ksr_counts", ckpt, r => reports += r.as[(Long, Long, Long)].collect().head)
    try q4.processAllAvailable() finally q4.stop()
    assert(storedTotal() == 350L)
    val refRaw = (1 to 200).map(i => (i * 53 % 97).toDouble)
    val batchDf = refRaw.map(("a", _)).toDF("g", "value")
      .unionByName((vals ++ extra).map(("b", _)).toDF("g", "value"))
    val want = graft.features.Features.ksStatistic(
        batchDf, "value", "g", "a", "b")
      .as[(Long, Long, Long)].collect().head
    assert(reports.last == want)
  }

  test("a fresh checkpoint over a counts or clean table accumulated under " +
      "another one fails fast, naming both") {
    val dir = Files.createTempDirectory("graft_ckmm").toString
    Seq((1L, "first page about one thing", 1.0), (2L, "another page on another", 2.0))
      .toDF("doc_id", "text", "value").coalesce(1).write.mode("append").parquet(dir)
    def src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, value DOUBLE"))
      .parquet(dir)
    val store = new TableStore(spark, Files.createTempDirectory("graft_ckmm_st").toString)
    val refCounts = Seq((1.0, 1L)).toDF("value", "ref_count")
    def ks(cp: String) = Streaming.incrementalKsGate(src, "value", refCounts, store,
      "counts", cp, _ => ())
    def gate(cp: String) = Streaming.containmentIngestGate(src, "text", "doc_id", store,
      "cpost", "cdf", "cgrams", "clean", cp)
    for ((name, run) <- Seq[(String, String => org.apache.spark.sql.streaming.StreamingQuery)](
        ("counts", ks), ("clean", gate))) {
      val first = Files.createTempDirectory(s"graft_ckmm_${name}_a").toString
      assert(run(first).awaitTermination(120000))
      val fresh = Files.createTempDirectory(s"graft_ckmm_${name}_b").toString
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        run(fresh).awaitTermination(120000)
      }
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case c: IllegalStateException => c }
      assert(cause.exists(c => c.getMessage.contains(first) && c.getMessage.contains(fresh)),
        s"$name: ${e.getMessage}")
    }
    assert(store.read("counts").count() == 2 && store.read("clean").count() == 2)
  }

  test("containmentIngestGate: kill BETWEEN index append and clean commit, " +
      "restart from checkpoint — clean table AND df table equal the no-crash run") {
    // worst-case crash point end-to-end through the real checkpoint-restart
    // machinery (r14 verdict item 6): the index holds the batch, the clean
    // guard does not. Batch 1 deliberately carries a quote AND its source
    // together (ids 4/5) — the pair the replay's pre-batch read exists for.
    val a30 = (1 to 30).map(i => "alpha" + i).mkString(" ")
    val b30 = (1 to 30).map(i => "beta" + i).mkString(" ")
    val batches = Seq(
      Seq((1L, a30), (2L, (1 to 30).map(i => "gamma" + i).mkString(" "))),
      Seq((3L, (1 to 12).map(i => "alpha" + i).mkString(" ")), // quote of 1
        (4L, b30),                                             // novel source
        (5L, (1 to 12).map(i => "beta" + i).mkString(" "))),   // quote of 4, SAME batch
      Seq((6L, (2 to 13).map(i => "beta" + i).mkString(" "))))  // later quote of 4
    def stageDir(): String = {
      val dir = Files.createTempDirectory("graft_kr").toString
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
        val cutoff = System.currentTimeMillis() - (batches.size - i).toLong * 60000
        java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach { p =>
          if (java.nio.file.Files.getLastModifiedTime(p).toMillis > cutoff)
            java.nio.file.Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(cutoff))
        }
      }
      dir
    }
    def gate(dir: String, store: TableStore, cp: String) =
      Streaming.containmentIngestGate(
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING"))
          .option("maxFilesPerTrigger", 1).parquet(dir),
        "text", "doc_id", store, "cpost", "cdf", "cgrams", "clean",
        cp, threshold = 0.8)
    // control: no crash
    val ctl = new TableStore(spark, Files.createTempDirectory("graft_kr_c").toString)
    gate(stageDir(), ctl, Files.createTempDirectory("graft_kr_ccp").toString)
      .awaitTermination(120000)
    assert(ctl.read("clean").select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 4L, 5L)) // 3 and 6 gated; batch-internal 4/5 both kept
    // crash run: hook throws once, at batch 1, AFTER the index appends
    val st = new TableStore(spark, Files.createTempDirectory("graft_kr_s").toString)
    val cp = Files.createTempDirectory("graft_kr_scp").toString
    val dir = stageDir()
    Streaming.crashHook = (_, b) =>
      if (b == 1L) {
        Streaming.crashHook = (_, _) => ()
        sys.error("injected crash between index append and clean commit")
      }
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        gate(dir, st, cp).awaitTermination(120000)
      }
    } finally Streaming.crashHook = (_, _) => ()
    // the crash landed where intended: index seeded, clean not committed
    assert(st.read("cpost").where(col("id") === 4L).count() > 0)
    assert(st.read("clean").select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    // restart from the checkpoint: batch 1 replays, batch 2 drains
    gate(dir, st, cp).awaitTermination(120000)
    assert(st.read("clean").select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 4L, 5L)) // the no-crash outcome, exactly
    // and the df table was merged exactly once (the replay's merge is a
    // no-op through the txn view): it equals the control's key-for-key
    val dfCrash = st.read("cdf").as[(Long, Long)].collect().toMap
    val dfCtl = ctl.read("cdf").as[(Long, Long)].collect().toMap
    assert(dfCrash == dfCtl, "replayed seeding inflated the df table")
  }
}
