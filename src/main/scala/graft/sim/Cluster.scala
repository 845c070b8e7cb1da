package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.Pairs
import graft.text.Dedup

/** Embedding-space clustering and cluster-bucketed semantic dedup —
  * the SemDeDup recipe (Abbas et al., arXiv:2303.09540): cluster the
  * corpus, then search for near-duplicates only WITHIN each cluster, so
  * the pair search is bounded by cluster occupancy instead of N².
  * Extension beyond the reference surface (SURVEY §2.11), sibling of the
  * SRP-LSH path in [[Similarity.cosineDupPairs]] — LSH buckets by random
  * hyperplanes, SemDeDup buckets by learned/fixed centroids, which groups
  * semantically (not just geometrically) similar documents.
  *
  * Scale shape: centroid assignment is MAP-ONLY — the centroid table
  * (k ≈ √N, thousands at 100 TB) rides into every task as a broadcast
  * literal, each vector computes its argmin in one codegen'd pass, no
  * shuffle. The k-means update is the classic explode-and-average: one
  * (cluster, dim)-keyed aggregation per iteration with map-side combine,
  * k·dim result rows to the driver. Within-cluster pair search shuffles
  * on the cluster id; hot clusters are the operator's documented caveat
  * (cap cluster size via two-level k-means, same argument as
  * [[Similarity.ivfTopK2]]).
  *
  * Determinism: [[assignQuantized]] quantizes components to integer
  * micro-units (`round(x·10⁶)` as long) and compares integer squared L2 —
  * argmin margins are exact integers, so the assignment is bit-identical
  * on any engine/partition layout (the hash-gate form). [[kmeans]]
  * iterates in double space (centroid means are order-dependent float
  * sums) and is spec-tested, not hash-gated.
  */
object Cluster {

  /** Integer micro-unit quantization: array<float/double> → array<long>,
    * component-wise `round(x·10⁶)`. 64-dim unit-scale vectors stay far
    * inside long range (max Σ(2e6)² ≈ 2.6e14). */
  def quantize(vec: Column): Column =
    transform(vec.cast("array<double>"), x => round(x * 1000000.0).cast("long"))

  /** Exact integer squared L2 between two array<long> columns. */
  def sqDistLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  private def sqDistDouble(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  private def centroidsLit[T: Numeric](cs: Seq[Seq[T]]): Column =
    array(cs.map(c => array(c.map(v => lit(v)): _*)): _*)

  /** Argmin cluster over a literal distance array, lowest index on ties
    * (array_position returns the FIRST match). `__dists` is referenced
    * twice in the final projection, which keeps a projection barrier in
    * front of the expensive per-centroid distance walk (CLAUDE.md
    * invariant 6 — CollapseProject leaves multi-referenced non-trivial
    * aliases alone). */
  private def argminCluster(df: DataFrame, dists: Column): DataFrame =
    df.withColumn("__dists", dists)
      .withColumn("cluster",
        (array_position(col("__dists"), array_min(col("__dists"))) - 1).cast("int"))
      .drop("__dists")

  /** Assign every vector to its nearest centroid under integer-quantized
    * squared L2 (deterministic across engines — see class doc). Adds a
    * `cluster` column (0-based index into `centroids`). Map-only. */
  def assignQuantized(df: DataFrame, vecCol: String,
                      centroids: Seq[Seq[Long]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val cLit = centroidsLit(centroids)
    val q = df.withColumn("__q", quantize(col(vecCol)))
    argminCluster(q, transform(cLit, c => sqDistLong(col("__q"), c)))
      .drop("__q")
  }

  /** Double-precision nearest-centroid assignment (used inside [[kmeans]]
    * where centroids are fractional means). Adds `cluster` and `__dist`
    * (the squared L2 to the winning centroid, for cost accounting). */
  private[graft] def assignDouble(df: DataFrame, vecCol: String,
                                  centroids: Seq[Seq[Double]]): DataFrame = {
    val cLit = centroidsLit(centroids)
    val v = df.withColumn("__av", col(vecCol).cast("array<double>"))
    argminCluster(v, transform(cLit, c => sqDistDouble(col("__av"), c)))
      .withColumn("__dist", element_at(
        transform(cLit, c => sqDistDouble(col("__av"), c)), col("cluster") + 1))
      .drop("__av")
  }

  final case class KMeansModel(centroids: Seq[Seq[Double]], cost: Double, iters: Int)

  /** Lloyd's k-means over an embedding column. Deterministic
    * initialization: the k vectors with the smallest `idCol` values
    * (TakeOrdered — no global sort). Each iteration is ONE distributed
    * pass: map-only assignment against broadcast literal centroids, then
    * a (cluster, dim) aggregation (posexplode + map-side combine) whose
    * k·dim result rows come back to the driver to form the next round's
    * literals — so lineage stays flat (every round re-reads the source,
    * no recursive plan growth; cf. CLAUDE.md invariant 7, which this
    * sidesteps entirely by never rebuilding a frame from itself).
    * Empty clusters retain their previous centroid. Stops after
    * `maxIters` or when no assignment can change (centroid max move =
    * 0 is not awaited — cost plateau within `tol` is). */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
             maxIters: Int = 10, tol: Double = 1e-9): KMeansModel = {
    require(k > 0 && maxIters >= 1)
    // persist: every iteration re-scans src (init + maxIters actions) —
    // without this, 10 rounds = 10 full source reads at scale
    val src = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var centroids: Seq[Seq[Double]] = src.orderBy(col(idCol)).limit(k)
      .select("__v").collect().map(_.getSeq[Double](0).toVector).toVector
    var cost = Double.MaxValue
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val assigned = assignDouble(src, "__v", centroids)
      // one action per iteration: per-(cluster,dim) component sums carry
      // the cluster size and total cost along (cost replicated dim×,
      // divided back out on the driver)
      val rows = assigned
        .select(col("cluster"), col("__dist"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        .groupBy("cluster", "__pos")
        .agg(sum("__x").as("__sx"), count(lit(1)).as("__n"), sum("__dist").as("__sd"))
        .collect()
      // row layout: cluster(0), __pos(1), __sx(2), __n(3), __sd(4)
      val dim = centroids.head.size
      val byCluster = rows.groupBy(_.getInt(0))
      val newCost = rows.map(_.getDouble(4)).sum / dim
      centroids = centroids.zipWithIndex.map { case (old, ci) =>
        byCluster.get(ci) match {
          case Some(rs) =>
            val n = rs.head.getLong(3).toDouble
            val sums = rs.map(r => r.getInt(1) -> r.getDouble(2)).sortBy(_._1)
            sums.map(_._2 / n).toVector
          case None => old // empty cluster: keep previous centroid
        }
      }
      it += 1
      converged = cost - newCost <= tol * math.max(cost, 1.0)
      cost = newCost
    }
    KMeansModel(centroids, cost, it)
    } finally src.unpersist(blocking = false)
  }

  /** Within-cluster near-duplicate pairs (id_a < id_b, cosine ≥
    * threshold) under a FIXED quantized centroid set — the deterministic
    * SemDeDup pair search: a [[graft.ops.Pairs.selfJoin]] on the cluster
    * id. Each pair appears in exactly one cluster, so no pair-dedup
    * aggregation is needed. */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
                       centroids: Seq[Seq[Long]],
                       threshold: Double = 0.95): DataFrame = {
    val b = assignQuantized(df, vecCol, centroids)
      .select(col("cluster"), col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
    Pairs.selfJoin(b, Seq("cluster"), "__id", Seq("__v" -> "v"))
      .withColumn("cosine_sim",
        round(GraftFunctions.cosine(col("v_a"), col("v_b")), 6))
      .where(col("cosine_sim") >= threshold)
      .select("id_a", "id_b", "cosine_sim")
  }

  /** SemDeDup keep-set: drop every row whose id appears as the LARGER id
    * of a within-cluster near-dup pair (keep-min-id representative, the
    * same rule as [[graft.text.Dedup]]'s exact dedup). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Seq[Long]],
                    threshold: Double = 0.95): DataFrame = {
    val drop = semanticDupPairs(df, idCol, vecCol, centroids, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  // ------------------------------------------- incremental (ingest-time)

  /** Symmetric int8 dequantization: `codes[i] · scale` — exact doubles
    * (codes are ints, scale is one IEEE division), so the reconstructed
    * vector and every cosine over it replay bit-identically in any
    * engine (the [[Similarity.int8Quantize]] contract). */
  private def deq(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  /** Per-doc EMBEDDING near-dup signature rows `(id, cluster, codes,
    * scale)`: coarse cluster under the fixed quantized `centroids`
    * ([[assignQuantized]] — exact integer argmin) + int8-quantized vector
    * ([[Similarity.int8Quantize]]) — ~dim bytes + 12 of state per doc,
    * ~8× smaller than the float vector, the signature the incremental
    * SemDeDup probe compares symmetrically (stored AND batch side ride
    * the same codes, so the decision is a pure function of the
    * signatures). */
  private def signatureRows(corpus: DataFrame, vecCol: String, idCol: String,
                            centroids: Seq[Seq[Long]]): DataFrame =
    Similarity.int8Quantize(
        assignQuantized(corpus.select(col(idCol), col(vecCol)), vecCol, centroids),
        vecCol, as = "codes", scaleCol = "scale")
      .select(col(idCol).cast("long").as("id"), col("cluster"),
        col("codes"), col("scale"))

  /** Register every document's embedding signature in the store — the
    * bulk corpus-onboarding step ahead of [[embeddingIncremental]]
    * batches (the SemDeDup sibling of
    * [[graft.text.Dedup.seedMinhashSignatures]]). One row per doc, PK
    * `id`; `appendOnly = true` switches to O(batch) file-level appends
    * (streaming economics — duplicate rows are tolerated by the probe;
    * guard replays upstream). */
  def seedEmbeddingSignatures(store: graft.store.TableStore, sigTable: String,
                              corpus: DataFrame, vecCol: String, idCol: String,
                              centroids: Seq[Seq[Long]],
                              appendOnly: Boolean = false): Unit =
    Dedup.putSeed(store, sigTable,
      signatureRows(corpus, vecCol, idCol, centroids), appendOnly = appendOnly)

  /** EMBEDDING (SemDeDup) INCREMENTAL near-dedup: flag a new batch
    * against the persisted per-doc signature store
    * ([[seedEmbeddingSignatures]]) — the ingest-time form of
    * [[semanticDupPairs]], extending the incremental dedup family
    * (exact / minhash / containment / simhash) to the embedding modality
    * a multimodal pipeline gates on. Decision rule at the batch
    * boundary: a batch doc is a corpus dup iff a stored doc in the SAME
    * coarse cluster has int8-reconstructed cosine ≥ `threshold` (6-dp
    * rounded — the [[semanticDupPairs]] gate); within the batch the
    * greedy smaller-id-wins rule applies among non-corpus-dup rows.
    * SemDeDup's cluster-boundary loss (a near-dup pair split across
    * clusters is invisible) carries over unchanged — it is the measured
    * q_sem_dedup trade, not a new one; raise recall with more probing
    * clusters only by re-seeding under coarser centroids. Stored
    * signatures are ~dim + 12 bytes/doc, and only same-cluster
    * candidates reach the cosine verify. Topology, registration and the
    * streaming contract: [[graft.text.Dedup.nearDupIncremental]]
    * ([[graft.streaming.Streaming.nearDupIngestGate]] with
    * `method = "embedding"`).
    *
    * Returns the batch plus `dup_of_corpus` and `kept`. */
  def embeddingIncremental(store: graft.store.TableStore, sigTable: String,
                           batch: DataFrame, vecCol: String, idCol: String,
                           centroids: Seq[Seq[Long]],
                           threshold: Double = 0.95,
                           appendOnly: Boolean = false): DataFrame =
    Dedup.nearDupIncremental(store, sigTable,
      Similarity.int8Quantize(
          assignQuantized(batch, vecCol, centroids),
          vecCol, as = "__codes", scaleCol = "__scale")
        .withColumnRenamed("cluster", "__cluster"),
      idCol,
      Dedup.NearDupSig(
        Seq("__cluster" -> "cluster", "__codes" -> "codes", "__scale" -> "scale"),
        Seq("cluster"), identity,
        (x, y) => round(GraftFunctions.cosine(deq(x("codes"), x("scale")),
          deq(y("codes"), y("scale"))), 6) >= threshold),
      appendOnly)
}
