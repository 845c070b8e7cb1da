package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.TableStore

/** Store-backed INCREMENTAL IVF index maintenance — the vector-search
  * analog of [[graft.text.Dedup.exactIncremental]]: the corpus is
  * assigned to its inverted-file buckets ONCE, each arriving batch is
  * assigned map-only against the same broadcast centroids and upserted
  * into the persisted posting table, and searches probe the stored
  * postings — the already-indexed corpus is never re-read, re-assigned or
  * shuffled per batch. This is the standard maintenance shape of IVF
  * deployments (Jégou et al., TPAMI 2011: the coarse quantizer is fixed;
  * postings grow by appending), re-expressed over the snapshot store.
  *
  * Assignment reuses [[Cluster.assignQuantized]] (integer micro-unit
  * argmin — bit-identical on any engine/layout), so seeding the corpus in
  * one call or in N incremental calls produces the IDENTICAL posting
  * table, and the whole table is SQL-replayable (the
  * `q_cluster_assign` oracle argument).
  *
  * Scale: per batch, ONE map-only projection (k·dim literal centroids
  * ride in the plan) + the store's PK upsert; the posting table is
  * hive-partitioned by `cluster`, so probes read only the probed buckets'
  * partition directories (scan pruning, not a filter over the full
  * index). Centroids are k·dim driver state by construction.
  */
object IvfIndex {

  private def centroidsLit(cs: Seq[Seq[Long]]) =
    array(cs.map(c => array(c.map(v => lit(v)): _*)): _*)

  /** Assign `batch` to its IVF buckets and register the postings
    * (`id, cluster, v`) in the store — seeds the table partitioned by
    * `cluster` on first use, PK-upserts afterwards (idempotent replay,
    * evolving corpus). Returns the batch's `(id, cluster)` assignments.
    *
    * `appendOnly = true` is the STREAMING ingest form (r15): each call is
    * a hive-partitioned [[TableStore.appendFiles]] — O(batch) data +
    * O(files) hardlinks, partition pruning intact — instead of the
    * default PK upsert, which rewrites the corpus-sized snapshot EVERY
    * call (the measured r13 per-trigger trap; CLAUDE.md invariant 12).
    * Appends do not dedup: an at-least-once replay appends duplicate
    * posting rows, and assignment is deterministic, so replays produce
    * EXACT duplicates — every consumer here ([[postings]],
    * [[searchStored]], [[driftStats]]) collapses them by id, which makes
    * blind replays safe without a seed-log guard; a same-id re-send with
    * a DIFFERENT vector is caller error in this mode (use the upsert form
    * for mutable vectors). [[compactPostings]] physically reconciles
    * accumulated duplicate rows and per-append small files. */
  def assignIncremental(store: TableStore, table: String, batch: DataFrame,
                        idCol: String, vecCol: String,
                        centroids: Seq[Seq[Long]],
                        appendOnly: Boolean = false): DataFrame = {
    val assigned = Cluster.assignQuantized(
        batch.select(col(idCol), col(vecCol)), vecCol, centroids)
      .select(col(idCol).cast("long").as("id"), col("cluster"),
        col(vecCol).cast("array<double>").as("v"))
    // a first write here also sets the hive partitioning, which only
    // overwrite takes — so this one create stays outside append/upsert
    if (!store.exists(table))
      store.overwrite(table, assigned, primaryKeys = Seq("id"),
        partitionBy = Seq("cluster"))
    else if (appendOnly) store.appendFiles(table, assigned)
    else store.upsert(table, assigned, Seq("id"))
    assigned.select(col("id"), col("cluster"))
  }

  /** Read back the full posting map `(id, cluster)` — equals a one-shot
    * [[Cluster.assignQuantized]] over everything ever ingested, however
    * many increments built it. Collapses the exact-duplicate rows an
    * append-only replay leaves behind. */
  def postings(store: TableStore, table: String): DataFrame =
    store.read(table).select(col("id"), col("cluster")).distinct()

  /** LSM-style maintenance for an append-only posting store: ONE
    * layout-preserving snapshot rewrite that collapses replay-duplicate
    * rows and reconciles per-append small files (the run-it-every-N-
    * triggers sibling of [[TableStore.compact]], which reconciles files
    * but never dedups rows). Maintenance-priced — never on the
    * per-trigger path. */
  def compactPostings(store: TableStore, table: String): Unit =
    store.overwrite(table, store.read(table).dropDuplicates("id"))

  /** Top-k cosine search against the STORED index: each query probes its
    * `nProbe` nearest centroid buckets (exact integer distances, same
    * quantization as assignment), only those buckets' partition
    * directories are scanned, and candidates rank by true cosine.
    *
    * Query-batch broadcast contract (same as [[Similarity.ivfTopK]]): the
    * query side is deliberately broadcast so the posting scan stays
    * shuffle-free — chunk huge query batches. The probed-cluster set is
    * collected to the driver (≤ nProbe·|queries| ints) to drive partition
    * pruning on the store read. */
  def searchStored(store: TableStore, table: String, queries: DataFrame,
                   queryIdCol: String, vecCol: String,
                   centroids: Seq[Seq[Long]], k: Int = 10,
                   nProbe: Int = 4): DataFrame = {
    require(nProbe > 0 && k > 0, "nProbe and k must be positive")
    val cLit = centroidsLit(centroids)
    val q = queries.select(col(queryIdCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__cq", Cluster.quantize(col("__qv")))
      .withColumn("__d",
        transform(cLit, c => Cluster.sqDistLong(col("__cq"), c)))
      .select(col("query_id"), col("__qv"),
        posexplode(col("__d")).as(Seq("__cidx", "__dist")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("__dist"), col("__cidx"))
    val probes = q.withColumn("__pr", row_number().over(probeW))
      .where(col("__pr") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__cidx").as("cluster"))
    val probedClusters = probes.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq
    val cands = store.read(table)
      .where(col("cluster").isin(probedClusters: _*))
      .join(broadcast(probes), Seq("cluster"))
      .where(col("id") =!= col("query_id"))
      // collapse append-only replay duplicates BEFORE ranking — exact
      // duplicate postings would otherwise occupy two of the k ranks
      .dropDuplicates("query_id", "id")
      .withColumn("cosine_sim",
        round(Similarity.cosine(col("v"), col("__qv")), 6))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("id"))
    cands.withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("cosine_sim"), col("rank"))
  }

  /** DRIFT VISIBILITY (r15 — the alarm an operator watches so a frozen
    * coarse quantizer cannot silently lose recall): per-cluster posting
    * count and mean integer squared distance to the ASSIGNED centroid,
    * under the same micro-unit quantization as assignment. As the
    * ingested distribution drifts away from the centroids the index was
    * fit on, `mean_sqdist` trends UP (vectors land ever farther inside
    * their nearest — increasingly wrong — bucket) while recall of
    * [[searchStored]] decays; alarm on the trend and run [[refit]].
    *
    * Determinism: distances are exact integers; the mean is integer
    * `sum div n` (non-negative, engine-identical) — SQL-replayable
    * (q_sim_ivf_drift). Scale: ONE map-only scan of the posting store +
    * a k-row aggregate; centroids ride as a broadcast literal. */
  def driftStats(store: TableStore, table: String,
                 centroids: Seq[Seq[Long]]): DataFrame = {
    val cLit = centroidsLit(centroids)
    store.read(table)
      // append-only replay duplicates would inflate n and the mean
      .dropDuplicates("id")
      .withColumn("__d", Cluster.sqDistLong(Cluster.quantize(col("v")),
        element_at(cLit, col("cluster") + 1)))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("__d")).as("__sd"))
      .select(col("cluster"), col("n"),
        expr("__sd div n").as("mean_sqdist"))
  }

  /** CENTROID REFIT (r15 — the bounded fix for quantizer drift): re-run
    * [[Cluster.kmeans]] over a deterministic hash-sample of the stored
    * postings, re-assign EVERY stored vector map-only against the new
    * centroids, and PK-upsert ONLY the rows whose bucket changed. Returns
    * the new quantized centroids — pass them to every subsequent
    * [[assignIncremental]]/[[searchStored]]/[[driftStats]] call (the
    * centroids remain driver state by construction, exactly as in a
    * Faiss-style IVF retrain: the coarse quantizer is replaced wholesale,
    * never patched).
    *
    * Cost model (maintenance-priced, NOT per-trigger): the k-means fit
    * touches only the ≤ `sampleN` hash-sampled rows (init + iters scans);
    * re-assignment is one map-only pass over the store; the upsert
    * rewrites the snapshot once (the store's documented upsert economics)
    * carrying only changed rows through the merge shuffle. Run it when
    * [[driftStats]] alarms — the measured recall-vs-growth curve
    * (`datagen.IvfDriftMeasure`, BASELINE.md r15) prices how much recall
    * an unrefit index loses first.
    *
    * Determinism: the sample is an id-hash gate (layout-independent), the
    * fit is [[Cluster.kmeans]]' deterministic smallest-id init, and
    * re-assignment is the exact integer argmin. */
  def refit(store: TableStore, table: String, k: Int,
            sampleN: Int = 10000, maxIters: Int = 10): Seq[Seq[Long]] = {
    // append-only replay duplicates: collapse so the re-assignment upsert
    // never carries one PK twice (physical reconciliation of unchanged
    // duplicate rows is compactPostings' job, not refit's)
    val stored = store.read(table).dropDuplicates("id")
    val n = stored.count()
    require(n > 0, s"$table is empty — nothing to refit")
    // deterministic id-hash sample of ~sampleN rows (every m-th hash slot)
    val m = math.max(1L, n / math.max(1L, sampleN.toLong))
    val sample = stored.where(pmod(xxhash64(col("id")), lit(m)) === 0)
    val model = Cluster.kmeans(sample.select(col("id"), col("v")),
      "id", "v", k, maxIters)
    val next = model.centroids
      .map(_.map(x => math.round(x * 1e6)).toVector).toVector
    val reassigned = Cluster.assignQuantized(
        stored.select(col("id"), col("cluster").as("__old"), col("v")),
        "v", next)
      .where(col("cluster") =!= col("__old"))
      .select(col("id"), col("cluster"), col("v"))
    if (!reassigned.isEmpty) store.upsert(table, reassigned, Seq("id"))
    next
  }
}
