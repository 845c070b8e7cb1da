package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.core.Pins
import graft.store.TableStore

/** Structured Streaming skin over the engine. The reference is pure batch
  * micro-snapshot (SURVEY §2.10) — this is the streaming extension path:
  * the same monthly-refresh semantics expressed as `readStream` →
  * watermarked tumbling aggregation → `foreachBatch` upsert into the
  * [[TableStore]] (idempotent by PK, so replays are safe — exactly the
  * reference's MERGE-based refresh, continuously).
  */
object Streaming {

  /** HARNESS fault injection for the ingest gates: invoked with
    * (cleanTable, batchId) after the index appends, BEFORE the clean
    * commit — the worst-case crash point of the gate protocol (the index
    * holds this batch's txn, the clean table does not). `datagen.StreamAnchor`'s
    * kill-restart leg and the crash-replay specs throw from here to turn
    * the exactly-once claim into an end-to-end measurement through the
    * real checkpoint-restart machinery; default no-op, never set in
    * production. */
  @volatile private[graft] var crashHook: (String, Long) => Unit = (_, _) => ()

  /** Tumbling-window aggregation with late-data watermark: the streaming
    * mirror of `Queries.qStreamTumbling`. State is bounded by the
    * watermark; partials combine map-side per micro-batch. */
  def tumblingAgg(events: DataFrame, window_ : String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding-window aggregation (overlapping windows): each event lands in
    * window/slide windows; state bounded by the watermark like the tumbling
    * form. */
  def slidingAgg(events: DataFrame, window_ : String = "1 hour",
                 slide: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based session aggregation — the streaming counterpart of
    * `ops.Windows.sessionize`: `session_window` merges events per user into
    * sessions closed after `gap` of silence; state for closed sessions is
    * evicted by the watermark. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream inner join on user with an event-time band: each side is
    * watermarked so the join state for rows outside the band is evicted —
    * unbounded-state joins don't survive a week of uptime. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       watermark: String = "1 hour",
                       bandSeconds: Long = 900): DataFrame = {
    val l = left.select(col("user_id"), col("ts").as("l_ts"),
      col("event_type").as("l_type"), col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
      col("event_type").as("r_type"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $bandSeconds SECONDS"))
      .drop("r_user_id")
  }

  /** Stream-static dimension enrichment: left-join the stream against a
    * broadcast batch dimension — the streaming face of the dimension join
    * (J5). Stateless: the dimension is re-planned per micro-batch (a
    * store-backed dim picks up new snapshots between batches), no
    * watermark or join state involved; keep the dim broadcast-sized or
    * pre-bucket both sides. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Streaming exact dedup with bounded state: duplicates arriving within
    * the watermark horizon are dropped, state older than the watermark is
    * evicted (`dropDuplicatesWithinWatermark`). The streaming face of
    * `text.Dedup.exact`. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  /** Custom keyed state: per-user running aggregate via mapGroupsWithState
    * (the `KeyValueGroupedDataset` stateful path). */
  def runningPerUser(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val next = batch.foldLeft(prev)((acc, e) =>
            UserRunning(uid, acc.n + 1, acc.total + e.value))
          state.update(next)
          next
      }
      .toDF()
  }

  /** Streaming drift monitor: per tumbling window, the PSI of `valueCol`'s
    * binned distribution against a FITTED baseline histogram (pass the
    * `pct_expected` column of an offline [[graft.features.Features.psiFixedBins]]
    * fit — k numbers, driver-sized by definition, embedded as a literal
    * array so the stream needs NO static join). Emits one row per window:
    * `(win_start, n_events, psi)`; alert on psi > 0.25 — the
    * training-vs-serving drift gate run continuously.
    *
    * Stream-safe by construction: ONE watermarked aggregation (per-bin
    * counts as conditional aggs in a single pass), then a stateless
    * projection folds the PSI sum over the bins array. State = one row per
    * open window. All `baselinePct` entries must be > 0 (the offline fit's
    * Laplace floor guarantees this); observed bins are floored at
    * `floorCount` the same way. `withWatermark` is a no-op on batch input
    * (EliminateEventTimeWatermark), so the same call is its own batch
    * mirror — and the DuckDB oracle replays it. */
  def driftMonitor(events: DataFrame, baselinePct: Seq[Double],
                   valueCol: String, lo: Double, width: Double,
                   window_ : String = "1 hour", watermark: String = "2 hours",
                   floorCount: Int = 1): DataFrame = {
    require(baselinePct.nonEmpty && baselinePct.forall(_ > 0),
      "baselinePct must be non-empty and strictly positive")
    val nBins = baselinePct.size
    val bin = least(greatest(floor((col(valueCol) - lit(lo)) / lit(width)),
      lit(0L)), lit(nBins - 1L))
    val counts = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n_events"),
        array((0 until nBins).map(i =>
          greatest(count(when(bin === i, 1)), lit(floorCount.toLong))): _*).as("__c"))
    val tot = aggregate(col("__c"), lit(0L), _ + _).cast("double")
    val base = array(baselinePct.map(lit): _*)
    counts.select(
      col("window.start").as("win_start"), col("n_events"),
      (floor(aggregate(zip_with(col("__c"), base, (c, b) => {
        val pa = c.cast("double") / tot
        (pa - b) * log(pa / b)
      }), lit(0.0), _ + _) * 1e6 + 0.5) / 1e6).as("psi"))
  }

  /** Incremental EXACT-KS drift gate — the continuous form of
    * [[graft.features.Features.ksStatistic]]: each micro-batch
    * DELTA-MERGES the arriving values' per-value counts into
    * `countsTable` (sum-merge, never a PK replace — replacement would
    * reset the accumulated distribution to the last batch, CLAUDE.md
    * invariant 10d), then emits the exact KS between the ACCUMULATED
    * stream distribution and the static `refCounts (value, ref_count)`
    * through [[graft.features.Features.ksFromCounts]], handing the
    * 1-row `(n_a, n_b, ks_micros)` report to `onReport` per trigger.
    *
    * Scale: per trigger the stream pays one batch-sized aggregate plus
    * a value-dimension merge + prefix-sum — raw history is NEVER
    * re-read; the state is the value-distinct count table.
    *
    * Exactly-once under foreachBatch's at-least-once contract: a crash
    * between the counts commit and the checkpoint's offset commit replays
    * the batch, and a sum-merge applied twice would double-count the
    * distribution. The merge is written through `store.txn(checkpoint,
    * batchId)`, so `(checkpoint, batchId)` commits atomically with the
    * counts, and a trigger whose txn the counts table already holds
    * reports without merging (a metadata check, no Spark job). Counts
    * accumulated under another checkpoint fail fast: batch ids are only
    * monotonic within one checkpoint. Spec: StreamingMultimodalSpec
    * "kill-and-restart". */
  def incrementalKsGate(stream: DataFrame, valueCol: String,
                        refCounts: DataFrame,
                        store: TableStore, countsTable: String,
                        checkpoint: String,
                        onReport: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) => Pins.scoped {
          val tx = store.txn(checkpoint, batchId)
          if (!tx.committed(countsTable)) {
            val bc = batch.groupBy(col(valueCol).cast("double").as("value"))
              .agg(count(lit(1)).as("cur_count"))
            tx.overwrite(countsTable,
              if (!tx.exists(countsTable)) bc
              else tx.read(countsTable).unionByName(bc)
                .groupBy("value").agg(sum("cur_count").as("cur_count")))
          }
          val joined = refCounts
            .select(col("value"), col("ref_count"))
            .join(store.read(countsTable), Seq("value"), "full_outer")
          onReport(graft.features.Features.ksFromCounts(
            joined, "value", "ref_count", "cur_count"))
        }
      }
      .start()

  /** Quote-of-corpus INGEST GATE: each arriving micro-batch is probed for
    * ≥ `threshold` n-gram containment in the already-ingested corpus
    * ([[graft.text.Dedup.containmentIncremental]] against the persisted
    * gram index); contained arrivals are dropped, survivors are indexed
    * (APPEND-ONLY seeding) and appended to `cleanTable` — the streaming
    * form of the near-dup hygiene a 100 TB training-data pipeline runs at
    * ingest, as one composable query.
    *
    * Per-trigger cost is BATCH-bounded by construction (measured r13,
    * `datagen.StreamAnchor` at sf1): the probe is three map-only corpus
    * scans + batch-sized shuffles; index seeding uses
    * [[graft.store.TableStore.appendFiles]] (O(batch) written + inode
    * links) instead of PK upserts, whose corpus-sized snapshot rewrite
    * made the naive gate's per-trigger cost grow with the accumulated
    * index (measured 32–48 s per 10k-doc trigger at sf1 → batch-sized
    * after this change); the df table delta-merge rewrite is vocab-sized.
    *
    * Exactly-once: every read and write of a trigger goes through
    * `store.txn(checkpoint, batchId)`. A trigger whose txn the clean table
    * already holds is skipped (a metadata check). A replay after a crash
    * between the index appends and the clean commit probes each index as
    * of the version before this batch's txn, so batch-internal pairs (a
    * quote and its source arriving together) keep their no-crash outcome,
    * while a doc re-sent in a LATER batch still self-matches at 1.0 and
    * is gated; the index appends and the df merge it already committed
    * are no-ops, so df counts each batch exactly once. ID CONTRACT: stream
    * ids must be unique except for verbatim resends — a same-id arrival
    * with DIFFERENT text that clears the gate appends a second row under
    * that id (appendFiles does not dedup; treat ids as content-stable
    * keys, or route updates through the upsert-based [[streamIntoStore]]).
    * Tables accumulated under another checkpoint fail fast (batch ids are
    * only monotonic within one checkpoint).
    *
    * `banded = true` switches index and probe to the WINNOWED-fingerprint
    * forms ([[graft.text.Dedup.seedWinnowIndex]] /
    * [[graft.text.Dedup.containmentIncrementalBanded]]):
    * `postingsTable`/`dfTable` then hold fingerprint postings and
    * fingerprint df. This is the gram-saturated-corpus scale path — the
    * exact probe's candidate volume grows with corpus df and its guard
    * refuses at sf10 volumes by design (BASELINE.md r13 addendum), while
    * the banded probe's volume is batch-bounded by construction, at the
    * winnowing recall contract (contiguous runs ≥ w+n−1 tokens,
    * deterministic modulo the df cap).
    *
    * `compactEvery > 0` runs store compaction over the three
    * append-accumulating tables (postings, gram arrays, clean) every
    * that-many batches — the LSM-style maintenance leg: file-level
    * appends add one file per table per trigger, and after thousands of
    * triggers listing + footer reads dominate the probe's map-only scans.
    * Compaction rewrites the accumulated table (corpus-sized — the very
    * cost appendFiles avoids per trigger), so the amortized extra cost is
    * O(corpus / compactEvery) per trigger; it runs on the base store AFTER
    * the clean commit, carries each table's txn forward, and a crash
    * mid-compaction replays into the skipped trigger — maintenance is
    * best-effort, never correctness-bearing. */
  def containmentIngestGate(arrivals: DataFrame, textCol: String,
                            idCol: String, store: TableStore,
                            postingsTable: String, dfTable: String,
                            gramsTable: String, cleanTable: String,
                            checkpoint: String, threshold: Double = 0.8,
                            n: Int = 3, banded: Boolean = false,
                            w: Int = 8, dfCap: Long = 4096,
                            compactEvery: Int = 0): StreamingQuery =
    arrivals.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) => Pins.scoped {
          val tx = store.txn(checkpoint, batchId)
          if (!tx.committed(cleanTable)) {
            val kept =
              if (!tx.exists(postingsTable)) batch
              else {
                val contained = (if (banded)
                    graft.text.Dedup.containmentIncrementalBanded(
                      tx, postingsTable, dfTable, gramsTable,
                      batch, textCol, idCol, n = n, w = w,
                      threshold = threshold, dfCap = dfCap)
                  else
                    graft.text.Dedup.containmentIncremental(
                      tx, postingsTable, dfTable, gramsTable,
                      batch, textCol, idCol, n = n, threshold = threshold))
                  .select(col("probe_id").as(idCol)).distinct()
                batch.join(contained, Seq(idCol), "left_anti")
              }
            // pin ONE evaluation: the index seed and the clean append must
            // see the same survivor set (a nondeterministic-source batch
            // re-planned twice could drift)
            val keptP = Pins.pin(kept.select(col(idCol), col(textCol)))
            if (!keptP.isEmpty) {
              if (banded)
                graft.text.Dedup.seedWinnowIndex(tx, postingsTable,
                  dfTable, gramsTable, keptP, textCol, idCol, n = n, w = w,
                  appendOnly = true)
              else
                graft.text.Dedup.seedGramIndex(tx, postingsTable, dfTable,
                  gramsTable, keptP, textCol, idCol, n = n, appendOnly = true)
              crashHook(cleanTable, batchId)
              tx.append(cleanTable, keptP, Seq(idCol))
            }
            maybeCompact(store, compactEvery, batchId, batch,
              Seq(postingsTable, gramsTable, cleanTable))
          }
        }
      }
      .start()

  /** Best-effort file-count maintenance AFTER the clean commit (a crash
    * here replays into the skipped trigger) — see the compactEvery
    * Scaladoc for the amortization math. */
  private def maybeCompact(store: TableStore, compactEvery: Int,
                           batchId: Long, batch: DataFrame,
                           tables: Seq[String]): Unit =
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
      val nFiles = math.max(1,
        batch.sparkSession.sparkContext.defaultParallelism)
      tables.filter(store.exists).foreach(t => store.compact(t, n = nFiles))
    }

  /** NEAR-DUP INGEST GATE: the [[containmentIngestGate]] protocol with a
    * near-duplicate probe instead of containment — each arriving
    * micro-batch is probed against the persisted signature store, corpus
    * near-dups AND within-batch near-dups (greedy smaller-id-wins, the
    * batch dedup rule — deterministic, so replays agree) are dropped;
    * the probe registers the survivors' signatures APPEND-ONLY (O(batch)
    * written per trigger) and they append to `cleanTable`, all through
    * the trigger's txn view, with the same exactly-once protocol and
    * `compactEvery` maintenance as the containment gate.
    *
    * `method = "minhash"`: banding candidates at `1 − (1 − j^r)^b` recall,
    * estimated-Jaccard `threshold` — the web-scale near-dedup default
    * (state ~8·numHashes bytes/doc). `method = "simhash"`: pigeonhole
    * chunks, RECALL-COMPLETE within `maxHamming` (state 8 bytes/doc) —
    * the cheaper, exactness-guaranteed radius form. `method =
    * "embedding"`: incremental SemDeDup
    * ([[graft.sim.Cluster.embeddingIncremental]]) — `textCol` is then the
    * EMBEDDING column, `centroids` (the fixed quantized coarse set) is
    * required, `threshold` is the 6-dp-rounded int8-reconstructed cosine,
    * and the persisted signature is `(cluster, int8 codes, scale)`
    * (~dim + 12 bytes/doc); recall is bounded by the SemDeDup
    * cluster-boundary trade (q_sem_dedup contract). All three probe the
    * corpus store MAP-ONLY per trigger. Same ID CONTRACT as
    * [[containmentIngestGate]]: ids unique except verbatim resends (which
    * self-match and gate out); a same-id DIFFERENT-payload arrival that
    * clears the radius appends a second clean row under that id. */
  def nearDupIngestGate(arrivals: DataFrame, textCol: String, idCol: String,
                        store: TableStore, sigTable: String,
                        cleanTable: String, checkpoint: String,
                        method: String = "minhash",
                        numHashes: Int = 64, bands: Int = 16,
                        threshold: Double = 0.8, maxHamming: Int = 3,
                        centroids: Seq[Seq[Long]] = Nil,
                        compactEvery: Int = 0): StreamingQuery = {
    require(method == "minhash" || method == "simhash" || method == "embedding",
      s"unknown near-dup method '$method' (minhash | simhash | embedding)")
    require(method != "embedding" || centroids.nonEmpty,
      "method = embedding needs the fixed quantized coarse centroids")
    arrivals.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) => Pins.scoped {
          val tx = store.txn(checkpoint, batchId)
          if (!tx.committed(cleanTable)) {
            val flagged = method match {
              case "minhash" =>
                graft.text.Dedup.minhashIncremental(tx, sigTable, batch,
                  textCol, idCol, numHashes = numHashes, bands = bands,
                  threshold = threshold, appendOnly = true)
              case "simhash" =>
                graft.text.Dedup.simhashIncremental(tx, sigTable, batch,
                  textCol, idCol, maxHamming = maxHamming, appendOnly = true)
              case _ =>
                graft.sim.Cluster.embeddingIncremental(tx, sigTable, batch,
                  textCol, idCol, centroids, threshold = threshold,
                  appendOnly = true)
            }
            // flagged is pinned by the probe, which registered the kept rows
            val kept = flagged.where(col("kept")).select(col(idCol), col(textCol))
            if (!kept.isEmpty) {
              crashHook(cleanTable, batchId)
              tx.append(cleanTable, kept, Seq(idCol))
            }
            maybeCompact(store, compactEvery, batchId, batch,
              Seq(sigTable, cleanTable))
          }
        }
      }
      .start()
  }

  /** Continuous feature refresh: each micro-batch upserts into the store by
    * PK — replay-idempotent, like the reference's scheduled MERGE jobs. */
  def streamIntoStore(agg: DataFrame, store: TableStore, table: String,
                      primaryKeys: Seq[String], checkpoint: String): StreamingQuery =
    agg.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.upsert(table, batch, primaryKeys)
      }
      .start()
}
