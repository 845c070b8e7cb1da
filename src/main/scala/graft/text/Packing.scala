package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Exprs
import graft.ops.Scale

/** Training-example packing: the concat-and-chunk preparation step of
  * GPT-style pretraining — documents are concatenated in a deterministic
  * order and the token stream is cut into fixed-size context windows; each
  * document is assigned its global token offset and the chunk range it
  * spans. Downstream, (chunk_first..chunk_last) IS the map from documents
  * to training examples (and its inverse drives per-example provenance).
  *
  * Scale: a global running sum or rank is NOT computed with one
  * unpartitioned window (that serializes the corpus through a single
  * task). Every operator here is the distributed prefix sum of
  * [[graft.ops.Scale.rangeSlices]] + [[graft.ops.Scale.sliceOffsets]]:
  * range slices on the operator's order, per-slice totals → a
  * slices-sized offset table broadcast back, one slice-local window. The
  * only full pass is the slice-local window sort, which range
  * partitioning has already clustered, and the output is independent of
  * the shuffle-partition count.
  */
object Packing {

  /** Assign each document its global token offset and chunk span.
    * Returns the input columns plus `tok_start`, `chunk_first`,
    * `chunk_last` (chunks of `chunkTokens` tokens; a zero-token document
    * collapses to `chunk_first`). `orderCol` must be globally unique — it
    * defines the concatenation order. */
  def chunkAssignments(df: DataFrame, orderCol: String, tokenCountCol: String,
                       chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val sliced = Scale.rangeSlices(df, Seq(col(orderCol)))
    val localW = Window.partitionBy("__part").orderBy(col(orderCol))
    val chunk: Column => Column = t => floor(t / chunkTokens)
    Scale.sliceOffsets(sliced, Seq("__tok" -> sum(col(tokenCountCol))))
      .withColumn("tok_start",
        col("__tok_before") + sum(col(tokenCountCol)).over(localW) - col(tokenCountCol))
      .withColumn("chunk_first", chunk(col("tok_start")))
      .withColumn("chunk_last",
        greatest(chunk(col("tok_start") + col(tokenCountCol) - 1), chunk(col("tok_start"))))
      .drop("__part", "__tok_before", "__tok_total")
  }

  /** Deterministic global shuffle + fixed-shard export assignment: the
    * last step of a pretraining-data pipeline — the curated corpus is
    * globally shuffled (so consecutive training examples are decorrelated)
    * and cut into `nShards` equal output shards a loader can stream
    * round-robin. The shuffle order is the portable md5 order over
    * (`idCol`, salt) — any engine can replay it, and reruns/layout changes
    * reproduce the identical placement (same contract as
    * `Filters.portableHashSample`). Returns the input columns plus
    * `shard` (0-based, round-robin over the shuffled order, so shard
    * sizes differ by at most 1) and `shard_pos` (0-based position within
    * the shard — together they ARE the export placement).
    *
    * Reference analog: the reference materializes training tables in one
    * engine-chosen layout (`feature_store_register.py:131-180` writes);
    * sharded export for a data loader is part of this engine's extended
    * training-data scope.
    *
    * Scale: a global rank is NOT one unpartitioned window — the
    * [[chunkAssignments]] prefix sum counting ROWS, sliced on the hash
    * key. The md5 key is uniform by construction, so the range slices are
    * skew-free regardless of the id distribution. */
  def shardAssignments(df: DataFrame, idCol: String, nShards: Int,
                       salt: Int = 42): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    // (key, id) ordering: md5 collisions are negligible but the id
    // tie-break makes the order a total one by construction
    val keyed = df.withColumn("__k", Exprs.md5Key(Seq(col(idCol), lit(salt.toString))))
    val order = Seq(col("__k"), col(idCol))
    Scale.sliceOffsets(Scale.rangeSlices(keyed, order), Seq("__rows" -> count(lit(1))))
      .withColumn("__rank0", Scale.sliceRank(order) - 1)
      .withColumn("shard", pmod(col("__rank0"), lit(nShards.toLong)).cast("int"))
      .withColumn("shard_pos", expr(s"__rank0 div ${nShards}L"))
      .drop("__part", "__rows_before", "__rows_total", "__k", "__rank0")
  }

  /** Materialize a [[shardAssignments]] placement as JSONL shard files —
    * the wire format most training loaders actually read. Output layout is
    * `outDir/shard=N/part-*.json` with one JSON object per line, lines
    * ordered by `shard_pos` inside each file (the writer sorts within the
    * shard partitions, and a JSONL file's line order is the partition
    * iterator order), so a loader streams each shard file sequentially
    * and sees the deterministic global md5 order.
    *
    * Scale: one `repartition(nShards, shard)` exchange after the
    * assignment's own two-phase rank — each shard is one task writing one
    * file run; no global sort, no driver collect. For shards larger than
    * one task should write, raise nShards (shards are cheap; a global
    * file-count contract is the loader's concern, not the engine's). */
  def exportJsonlShards(df: DataFrame, idCol: String, nShards: Int,
                        outDir: String, salt: Int = 42): Unit =
    shardAssignments(df, idCol, nShards, salt)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "shard_pos")
      .write.mode("overwrite").partitionBy("shard").json(outDir)

  /** Read a [[exportJsonlShards]] layout back: the `shard=N` partition
    * directories come back as the `shard` column; `shard_pos` restores
    * the in-shard order (JSON round-trips long/string/bool exactly;
    * reading is partition-pruned when a `shard` predicate is pushed).
    *
    * `dataSchema` is the schema of the frame that was exported (the
    * writer appends `shard_pos`; `shard` is the partition directory) —
    * an EXPLICIT schema, never inference: `spark.read.json` inference
    * full-scans the layout before the first real read (a second pass
    * over the corpus at 100 TB) and types by VALUE, so an all-numeric
    * text column would come back as a number (`'0123'` → `123`) and a
    * column that is null in the sampled files (JSON write drops null
    * fields) would vanish or corrupt the round-trip (r11 advice). */
  def readJsonlShards(spark: org.apache.spark.sql.SparkSession,
                      dir: String,
                      dataSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val full = StructType(
      dataSchema.fields.filterNot(f =>
        f.name == "shard" || f.name == "shard_pos") ++
        Seq(StructField("shard_pos", LongType), StructField("shard", IntegerType)))
    spark.read.schema(full).json(dir)
  }

  /** Chunk MANIFEST — the inverse map of [[chunkAssignments]] a training
    * loader actually consumes: one row per (chunk, document) pair with the
    * document's token span INSIDE that chunk
    * (`start_in_chunk`/`end_in_chunk`, 0-based half-open). This is the
    * per-example provenance table and the attention/loss-mask metadata for
    * packed pretraining (cross-document attention masking needs exactly
    * these boundaries). Zero-token documents emit no manifest rows.
    *
    * Invariants (spec-asserted): per-document spans sum to its token
    * count; per-chunk spans tile `[0, chunkTokens)` exactly (the final
    * chunk ends at the corpus total mod chunkTokens).
    *
    * Scale: [[chunkAssignments]]'s two-phase prefix sum plus ONE map-only
    * explode over each doc's `[chunk_first, chunk_last]` range — fan-out
    * is ceil(doc_tokens / chunkTokens) + 1 rows per doc, the manifest's
    * inherent size; no extra shuffle. */
  def chunkManifest(df: DataFrame, orderCol: String, tokenCountCol: String,
                    chunkTokens: Int): DataFrame =
    chunkAssignments(df, orderCol, tokenCountCol, chunkTokens)
      .where(col(tokenCountCol) > 0)
      .select(col(orderCol), col(tokenCountCol), col("tok_start"),
        explode(sequence(col("chunk_first"), col("chunk_last"))).as("chunk_id"))
      .withColumn("start_in_chunk",
        greatest(col("tok_start") - col("chunk_id") * chunkTokens, lit(0L)))
      .withColumn("end_in_chunk",
        least(col("tok_start") + col(tokenCountCol) - col("chunk_id") * chunkTokens,
          lit(chunkTokens.toLong)))
      .drop("tok_start")

  /** Length-bucketed batching: the padding-efficient alternative to
    * [[chunkAssignments]] for sequence-level training (SFT / encoder
    * fine-tuning), where examples are NOT concatenated — each sequence is
    * padded to its bucket length and batched with same-bucket peers so a
    * batch's padded-token cost is roughly constant regardless of sequence
    * length (the "bucketing by sequence length" idiom of every major
    * training loader).
    *
    * Bucket lengths are the doubling ladder `minBucket, 2·minBucket, …,
    * maxBucket`; a sequence lands in the smallest bucket ≥ its length
    * (longer sequences are truncated to `maxBucket`). Each bucket is cut
    * into batches of `max(1, maxTokensPerBatch div bucket_len)` sequences
    * in `idCol` order. Emits the input columns plus `bucket_len`,
    * `seq_in_bucket` (0-based rank within the bucket by `idCol`),
    * `batch_in_bucket` (0-based), `pad_tokens`
    * (`bucket_len − min(tokens, maxBucket)`) and `truncated`.
    *
    * The bucket ladder is materialized as a literal array and probed with
    * `filter(...)[0]` — pure integer comparison, no float `log2` (whose
    * rounding at exact powers of two would differ across engines).
    *
    * Reference analog: the reference materializes training tables for a
    * fixed-width consumer (`feature_store_register.py:131-180`);
    * loader-side length bucketing is part of this engine's extended
    * training-data scope.
    *
    * Scale: within-bucket rank is NOT one window per bucket (O(log) bucket
    * count ⇒ a handful of tasks would each sort a corpus-sized slice).
    * The [[shardAssignments]] prefix rank grouped per bucket: slices on
    * (bucket, id), offsets per (slice, bucket). */
  def lengthBuckets(df: DataFrame, idCol: String, tokenCountCol: String,
                    minBucket: Int = 16, maxBucket: Int = 1024,
                    maxTokensPerBatch: Int = 8192): DataFrame = {
    require(minBucket > 0 && maxBucket >= minBucket,
      s"need 0 < minBucket <= maxBucket, got $minBucket/$maxBucket")
    val ladder = Iterator.iterate(minBucket)(_ * 2)
      .takeWhile(_ < maxBucket).toSeq :+ maxBucket
    // null token counts coalesce to 0 (→ the smallest bucket, fully padded)
    // rather than a null bucket_len, which would silently vanish through
    // the inner offset join — every input row is represented in the output
    val n = coalesce(col(tokenCountCol), lit(0))
    val eff = least(n, lit(maxBucket))
    val staged = df
      .withColumn("bucket_len",
        filter(array(ladder.map(lit): _*), c => c >= eff).getItem(0))
      .withColumn("pad_tokens", (col("bucket_len") - eff).cast("int"))
      .withColumn("truncated", n > maxBucket)
    val sliced = Scale.rangeSlices(staged, Seq(col("bucket_len"), col(idCol)))
    Scale.sliceOffsets(sliced, Seq("__rows" -> count(lit(1))), groupBy = Seq("bucket_len"))
      .withColumn("seq_in_bucket", Scale.sliceRank(Seq(col(idCol)), Seq("bucket_len")) - 1)
      .withColumn("batch_in_bucket",
        expr(s"seq_in_bucket div greatest(1, $maxTokensPerBatch div bucket_len)"))
      .drop("__part", "__rows_before", "__rows_total")
  }

  /** Curriculum ordering index: the GLOBAL 0-based training position of
    * every row under `(scoreCol asc, idCol asc)` — the deterministic
    * easy-to-hard data ordering of curriculum learning (Bengio et al.,
    * ICML 2009), materialized as a column a loader consumes directly.
    * The id tie-break makes the order total, so the curriculum replays
    * bit-for-bit in any engine; feed any difficulty proxy as the score
    * (length, rarity, classifier logit, compressibility).
    *
    * Scale: a plain `row_number` over an unpartitioned window serializes
    * the corpus through ONE task — this is the [[shardAssignments]]
    * prefix rank sliced on (score, id) instead. */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    val order = Seq(col(scoreCol), col(idCol))
    Scale.sliceOffsets(Scale.rangeSlices(df, order), Seq("__rows" -> count(lit(1))))
      .withColumn("curriculum_pos", Scale.sliceRank(order) - 1)
      .drop("__part", "__rows_before", "__rows_total")
  }

  /** Per-document overlapping sliding windows: cut each document's unit
    * span `[0, lengthCol)` into chunks starting every `step` units, each
    * `window` units long (clipped at the document end). Emits one row per
    * chunk: `chunk_idx` (0-based), `chunk_start`, `chunk_end` (exclusive).
    * Documents with length 0 emit no chunks. The long-document
    * split-with-overlap step (RAG indexing, context-window prep) —
    * complements [[chunkAssignments]], which packs the corpus-level
    * stream; this one splits within each document.
    *
    * Scale: MAP-ONLY — `sequence` + `posexplode` generate chunk rows in
    * place; no shuffle, no state. Output size is input-length/step rows,
    * the operator's inherent fan-out. */
  def slidingChunks(df: DataFrame, lengthCol: String,
                    window: Int, step: Int): DataFrame = {
    require(window > 0 && step > 0 && step <= window,
      s"need 0 < step <= window, got window=$window step=$step")
    df.where(col(lengthCol) > 0)
      .select(df.columns.toIndexedSeq.map(col) :+
        posexplode(sequence(lit(0L), col(lengthCol).cast("long") - 1, lit(step.toLong)))
          .as(Seq("chunk_idx", "chunk_start")): _*)
      .withColumn("chunk_end", least(col("chunk_start") + window, col(lengthCol).cast("long")))
  }
}
