package graft.datagen

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.TableStore
import graft.streaming.Streaming

/** Per-trigger SCALE ANCHOR for the two stateful streaming paths whose
  * batch mirrors are benched but whose streaming forms never were (r12
  * verdict item #4): the foreachBatch CONTAINMENT ingest gate (the
  * quote-of-corpus dedup gate of StreamingMultimodalSpec, at corpus
  * batch volumes) and the INCREMENTAL-KS drift gate
  * ([[graft.streaming.Streaming.incrementalKsGate]]).
  *
  * Method: the sf corpus is staged as `batches` parquet files with
  * staggered mtimes; a file stream with `maxFilesPerTrigger = 1` drives
  * one trigger per file under `Trigger.AvailableNow`; per-trigger cost is
  * read from the query's own progress log (`triggerExecution` duration +
  * input rows — the number a capacity plan needs: can the gate keep up
  * with the arrival rate at this batch size). The CURVE across triggers
  * is the point: the containment gate re-seeds its persisted gram index
  * per batch, so its per-trigger cost reflects the accumulated corpus
  * (snapshot-store rewrite of the vocab-sized df table + bucketed
  * postings upsert), while the KS gate's per-trigger cost must stay
  * batch-bounded + value-dimension-bounded (values are pre-binned to one
  * decimal — the telemetry shape; raw doubles would make the counts
  * table corpus-sized).
  *
  * Usage: `runMain graft.datagen.StreamAnchor <sfDir> <out.json> [batches]
  * [legs: all|containment|neardup|ks|killrestart] [gate: exact|banded]` —
  * the `killrestart` leg (r15) measures the EXACTLY-ONCE claim end-to-end:
  * it runs the containment gate with an injected crash at the worst point
  * of trigger 1 (after the index appends, before the clean commit —
  * `Streaming.crashHook`), restarts the query from its real checkpoint,
  * and asserts the clean table AND the df table equal a parallel
  * no-crash control run (the replay reads the index before its txn and
  * re-writes nothing), reporting per-trigger costs of all three query
  * incarnations. The legs selector
  * exists because the sf10 campaign needs the KS gate measured on its own
  * (r13: the containment leg's guard trip aborted the whole run before
  * the KS leg started), and `banded` anchors the winnowed-fingerprint
  * ingest gate (the r14 scale path for gram-saturated corpora, whose
  * per-trigger cost must stay flat where the exact probe's guard
  * correctly refuses).
  */
object StreamAnchor {

  /** Write `df` as `batches` single-file parquet slices with strictly
    * increasing mtimes so the file source triggers them in order. */
  private def stage(df: DataFrame, keyCol: String, batches: Int,
                    dir: String): Unit = {
    (0 until batches).foreach { i =>
      df.where(pmod(col(keyCol), lit(batches)) === i)
        .coalesce(1).write.mode("append").parquet(dir)
      val cutoff = System.currentTimeMillis() - (batches - i).toLong * 60000
      Files.list(Paths.get(dir)).forEach { p =>
        if (Files.getLastModifiedTime(p).toMillis > cutoff)
          Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(cutoff))
      }
    }
  }

  private def progressJson(q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q.recentProgress.filter(_.numInputRows > 0).map { p =>
      s"""{"batch":${p.batchId},"rows":${p.numInputRows},""" +
        s""""trigger_ms":${p.durationMs.get("triggerExecution")}}"""
    }.mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outPath = if (args.length > 1) args(1) else "/tmp/graft_stream_anchor.json"
    val batches = if (args.length > 2) args(2).toInt else 5
    val legs = if (args.length > 3) args(3) else "all"
    val banded = args.length > 4 && args(4) == "banded"
    // 6th arg: gate compactEvery (0 = off) — prices the LSM maintenance
    // leg: the compacting trigger absorbs the corpus rewrite, the others
    // stay batch-bounded
    val compactEvery = if (args.length > 5) args(5).toInt else 0
    val spark = graft.obs.GraftSession.local()
    val work = Files.createTempDirectory("graft_stream_anchor").toString

    val store = new TableStore(spark, s"$work/store")

    // ---- containment ingest gate at corpus batch volumes
    val containmentJson = if (legs == "all" || legs == "containment") {
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
        .select("doc_id", "text")
      val docDir = s"$work/docs"
      stage(docs, "doc_id", batches, docDir)
      // the production gate: append-only index seeding + clean appends
      // through the trigger's txn view — per-trigger cost must stay
      // BATCH-bounded (the r13 before-number, upsert re-seeding, grew with
      // the accumulated index: 32–48 s per 10k-doc trigger;
      // bench/stream_anchor_sf1_upsert_r13.json)
      val qc = Streaming.containmentIngestGate(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(docDir),
        "text", "doc_id", store, "cpost", "cdf", "cgrams", "clean",
        s"$work/cp_containment", threshold = 0.8, banded = banded,
        compactEvery = compactEvery)
      qc.awaitTermination()
      progressJson(qc)
    } else "[]"

    // ---- near-dup (simhash) ingest gate at corpus batch volumes: the
    // cheapest ingest-hygiene form (8-byte/doc state) — anchored so the
    // r14 gate family has a measured per-trigger row of its own
    val nearDupJson = if (legs == "all" || legs == "neardup") {
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
        .select("doc_id", "text")
      val ndDir = s"$work/nd_docs"
      stage(docs, "doc_id", batches, ndDir)
      val qn = Streaming.nearDupIngestGate(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(ndDir),
        "text", "doc_id", store, "nd_shs", "nd_clean",
        s"$work/cp_neardup", method = "simhash", maxHamming = 3)
      qn.awaitTermination()
      progressJson(qn)
    } else "[]"

    // ---- incremental-KS drift gate at corpus batch volumes
    var lastReportRows = 0L
    val ksJson = if (legs == "all" || legs == "ks") {
      val events = spark.read.parquet(s"$srcDir/events.parquet")
        .select(col("event_id"),
          (floor(col("value") * 10 + 0.5) / 10).as("v"))
      val evDir = s"$work/events"
      stage(events, "event_id", batches, evDir)
      val refCounts = events.groupBy(col("v").as("value"))
        .agg(count(lit(1)).as("ref_count")).localCheckpoint()
      val qk = Streaming.incrementalKsGate(
        spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", 1).parquet(evDir),
        "v", refCounts, store, "ks_counts", s"$work/cp_ks",
        report => { lastReportRows = report.count() })
      qk.awaitTermination()
      progressJson(qk)
    } else "[]"

    // ---- kill-restart: the exactly-once contract measured end-to-end
    val killJson = if (legs == "killrestart") {
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
        .select("doc_id", "text")
      val krDir = s"$work/kr_docs"
      stage(docs, "doc_id", batches, krDir)
      def gate(store: TableStore, prefix: String, cp: String) =
        Streaming.containmentIngestGate(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(krDir),
          "text", "doc_id", store, s"${prefix}post", s"${prefix}df",
          s"${prefix}grams", s"${prefix}clean", cp, threshold = 0.8,
          banded = banded)
      val qc = gate(store, "kc_", s"$work/cp_kr_control")
      qc.awaitTermination()
      // crash once, at trigger 1, between the index appends and the clean
      // commit — the window where the index already holds the batch
      Streaming.crashHook = (_, b) =>
        if (b == 1L) {
          Streaming.crashHook = (_, _) => ()
          sys.error("injected crash between index append and clean commit")
        }
      val q1 = gate(store, "kk_", s"$work/cp_kr_crash")
      try q1.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      finally Streaming.crashHook = (_, _) => ()
      val crashedJson = progressJson(q1)
      val q2 = gate(store, "kk_", s"$work/cp_kr_crash")
      q2.awaitTermination()
      val a = store.read("kk_clean").select("doc_id")
      val b = store.read("kc_clean").select("doc_id")
      val cleanMatch = a.join(b, Seq("doc_id"), "left_anti").isEmpty &&
        b.join(a, Seq("doc_id"), "left_anti").isEmpty
      val dfExact = {
        val l = store.read("kk_df"); val r = store.read("kc_df")
        l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty
      }
      s"""{"control":${progressJson(qc)},"crashed":$crashedJson,""" +
        s""""restarted":${progressJson(q2)},"clean_match":$cleanMatch,""" +
        s""""df_match":$dfExact,"n_clean":${b.count()}}"""
    } else "null"

    val json = s"""{"containment_gate":$containmentJson,""" +
      s""""neardup_gate":$nearDupJson,""" +
      s""""ks_gate":$ksJson,"killrestart":$killJson,""" +
      s""""batches":$batches,"legs":"$legs",""" +
      s""""banded":$banded,"compact_every":$compactEvery,""" +
      s""""ks_report_rows":$lastReportRows,"sf_dir":"$srcDir"}"""
    Files.write(Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
