package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-quantization codebook: `codebooks(s)(c)` is centroid `c` of
  * subspace `s`, in integer micro-units (the [[Cluster.quantize]] scale),
  * each of length `subDim`. Total corpus footprint after encoding is
  * `m` small ints per vector — a 64-dim float vector compresses 32×
  * at m=8. */
final case class PQModel(m: Int, subDim: Int, codebooks: Seq[Seq[Seq[Long]]]) {
  require(codebooks.size == m, s"need $m codebooks, got ${codebooks.size}")
  require(codebooks.forall(_.forall(_.size == subDim)),
    s"every centroid must have subDim=$subDim components")
}

/** Product quantization for billion-scale ANN (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): split each
  * vector into `m` contiguous subvectors, vector-quantize each subspace
  * against its own small codebook, and search by Asymmetric Distance
  * Computation (ADC) — the query stays exact, corpus vectors are
  * represented by their code words, and a per-query m×k lookup table
  * turns each distance into `m` table reads + adds.
  *
  * This is the compression leg of the ANN stack ([[Similarity]] has the
  * bucketing legs — SRP-LSH and IVF): at 100 TB of raw embeddings the
  * PQ codes are ~1-3 TB, which is what makes exhaustive re-scoring of an
  * IVF probe list (IVF-ADC) feasible at all.
  *
  * Determinism: codes are integer-quantized argmins ([[Cluster.quantize]]
  * micro-units, exact long squared L2, first-index tie-break) — encoding
  * is bit-identical across engines and partition layouts, and ADC
  * distances are exact longs. [[fit]] (k-means in double space) is
  * spec-bound like [[Cluster.kmeans]]; a FIXED literal codebook gives a
  * fully hash-gated pipeline.
  */
object PQ {

  /** 1-based slice of subspace `s` from a quantized array<long> column. */
  private def subVec(q: Column, s: Int, subDim: Int): Column =
    slice(q, s * subDim + 1, subDim)

  /** Fit per-subspace codebooks with [[Cluster.kmeans]] (deterministic
    * lowest-id init), then freeze the centroids to integer micro-units.
    * `m` sequential k-means runs over sliced views of the SAME frame —
    * each is one scan per iteration, no lineage growth.
    *
    * Scale: training runs on a hash-sample of the corpus (pass the
    * sample in, not the full table — the codebook needs ~100k vectors to
    * converge regardless of corpus size); encoding is where the corpus
    * gets touched, and that is map-only. */
  def fit(df: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
          k: Int, maxIters: Int = 10): PQModel = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val v = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val codebooks = (0 until m).map { s =>
      val sub = v.select(col(idCol), subVec(col("__v"), s, subDim).as("__sv"))
      Cluster.kmeans(sub, idCol, "__sv", k, maxIters).centroids
        .map(_.map(x => math.round(x * 1000000.0)))
    }
    PQModel(m, subDim, codebooks)
  }

  /** Encode vectors to `m` code columns packed as `pq_code` array<int>:
    * per subspace, the argmin codebook entry under exact integer squared
    * L2 (lowest index on ties). MAP-ONLY — codebooks ride along as
    * broadcast literals (m·k·subDim longs, a few KB), no shuffle at any
    * corpus size. Each per-subspace distance array is materialized as a
    * multi-referenced projection alias (CLAUDE.md invariant 6) so the
    * distance walk runs once per subspace, not once per argmin operand. */
  def encode(df: DataFrame, vecCol: String, model: PQModel,
             codeCol: String = "pq_code"): DataFrame = {
    val q = df.withColumn("__q", Cluster.quantize(col(vecCol)))
    val withDists = (0 until model.m).foldLeft(q) { (acc, s) =>
      acc.withColumn(s"__d_$s",
        transform(Cluster.centroidsLit(model.codebooks(s)),
          c => Cluster.sqDistLong(subVec(col("__q"), s, model.subDim), c)))
    }
    withDists
      .withColumn(codeCol, array((0 until model.m).map { s =>
        (array_position(col(s"__d_$s"), array_min(col(s"__d_$s"))) - 1).cast("int")
      }: _*))
      .drop("__q" +: (0 until model.m).map(s => s"__d_$s"): _*)
  }

  /** ADC top-k: exact-query-vs-codeword distances via a per-query lookup
    * table. The table (`m`×`k` exact longs: squared L2 between the
    * quantized query subvector and every codebook entry) is computed on
    * the driver and shipped as a literal; each corpus row then costs `m`
    * array reads + adds — no per-row distance loop over `dim`
    * components. Returns the `k` nearest codes by (adc_dist, id).
    *
    * Scale: one map-only scan of the (compressed) code table + a
    * TakeOrdered(k) — never a global sort. Compose with an IVF probe
    * list (filter on the coarse cell first) for IVF-ADC. */
  def adcTopK(codes: DataFrame, idCol: String, model: PQModel,
              query: Seq[Double], k: Int,
              codeCol: String = "pq_code"): DataFrame = {
    require(query.size == model.m * model.subDim,
      s"query dim ${query.size} != ${model.m * model.subDim}")
    require(k > 0, "k must be positive")
    val qQuant = query.map(x => math.round(x * 1000000.0))
    val table: Seq[Seq[Long]] = (0 until model.m).map { s =>
      val qs = qQuant.slice(s * model.subDim, (s + 1) * model.subDim)
      model.codebooks(s).map { c =>
        qs.zip(c).map { case (a, b) => val d = a - b; d * d }.sum
      }
    }
    val tabLit = Cluster.centroidsLit(table)
    val dist = (0 until model.m)
      .map(s => element_at(element_at(tabLit, s + 1), col(codeCol)(s) + 1))
      .reduce(_ + _)
    codes.withColumn("adc_dist", dist)
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** IVF-ADC with exact refine — the composed billion-scale retrieval
    * stack: coarse inverted-file cells bound WHICH vectors are scored
    * (probe `nProbe` of `nCentroids` cells), PQ codes bound WHAT is
    * scored (integer ADC distance on compressed codes, a SHORTLIST of
    * `shortlist` per query), and only the shortlist's raw vectors are
    * fetched for the exact cosine re-rank. The full-precision corpus is
    * touched `shortlist·|Q|` rows per batch — everything upstream runs on
    * cells + codes.
    *
    * Centroids are hash-ranked corpus picks (deterministic, k-means-free)
    * exactly like [[Similarity.ivfTopK]]; pass a [[PQModel]] from [[fit]]
    * (or a fixed literal codebook for hash-gated pipelines). With queries
    * batched in a DataFrame the ADC distance is evaluated as the exact
    * integer subspace distance to the assigned codeword (m sqDist kernels
    * per candidate) rather than a per-query driver table — same value,
    * distributed form; [[adcTopK]] keeps the table form for single
    * queries. Returns (query_id, neighbor_id, cosine_sim, rank ≤ k).
    *
    * QUERY-BATCH CONTRACT (same trade as [[Similarity.ivfTopK]]): the
    * probe rows and the per-query shortlist are explicitly broadcast so
    * the code table and the raw corpus never shuffle — queries (and
    * shortlist·|Q|) must stay broadcast-sized; chunk a huge query batch
    * or drop the hints to let AQE shuffle-join instead. */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, queryIdCol: String,
                 model: PQModel, k: Int = 10, nCentroids: Int = 16,
                 nProbe: Int = 4, shortlist: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && shortlist >= k, "need shortlist >= k > 0")

    val c = Similarity.vectors(corpus, idCol, vecCol, "neighbor_id", "__cv")
    // literal centroid picks + MAP-ONLY corpus assignment (zero corpus
    // shuffle) and the query-side probe — the [[Similarity.ivfTopK]] build
    val (assigned, probes) = Similarity.ivfProbed(c,
      Similarity.vectors(queries, queryIdCol, vecCol, "query_id", "__qv"),
      nCentroids, nProbe)
    // the compressed index: (cell, code) per corpus vector — at scale this
    // is the ONLY corpus-wide table the query path scans
    val codes = encode(assigned, "__cv", model).drop("__cv")

    val qq = probes.withColumn("__qq", Cluster.quantize(col("__qv")))
    val adc = (0 until model.m).map { s =>
      Cluster.sqDistLong(subVec(col("__qq"), s, model.subDim),
        element_at(Cluster.centroidsLit(model.codebooks(s)), col("pq_code")(s) + 1))
    }.reduce(_ + _)
    // codes stream, probes broadcast — the shortlist window over probed
    // buckets' candidates is the only code-row shuffle; it ranks by
    // integer ADC distance ascending, not by cosine, so it is its own window
    val short = codes.join(broadcast(qq), Seq("centroid_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adc)
      .withColumn("__sr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__adc"), col("neighbor_id"))))
      .where(col("__sr") <= shortlist)
      .select("query_id", "__qv", "neighbor_id")
    // exact refine: raw vectors fetched for shortlist rows only
    Similarity.topK(c.join(broadcast(short), Seq("neighbor_id"))
      .withColumn("cosine_sim", Similarity.cosine6(col("__cv"), col("__qv"))), k)
  }
}
