package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import scala.jdk.CollectionConverters._
import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`). Extension beyond the reference surface (SURVEY §7.6).
  *
  * Two paths, per the standard vector-search playbook:
  *  - [[bruteForceTopK]] — exact cosine top-k, broadcast the (small) query
  *    set against the corpus: one pass, no corpus shuffle. Baseline +
  *    correctness oracle for the approximate path.
  *  - [[lshTopK]] — sign-random-projection (SRP) LSH bucketing: corpus is
  *    hashed once into `nTables` bucket keys, queries probe only their own
  *    buckets. Shuffle volume = corpus × nTables bucket rows, never
  *    all-pairs; this is the 100 TB path (per-bucket candidate lists are
  *    bounded, and the bucket join is a plain hash join Catalyst can
  *    shuffle-partition).
  *
  * Every operator scores with [[cosine6]], the fused native cosine
  * kernel, and ranks with [[topK]]'s one tie rule.
  */
object Similarity {

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))

  /** A search side's projection: `idCol` as `idAs`, the vector as
    * `array<double>` (the cosine kernel's input) named `vecAs`, then
    * `extra`. */
  private[sim] def vectors(df: DataFrame, idCol: String, vecCol: String,
                           idAs: String, vecAs: String, extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as(idAs), col(vecCol).cast("array<double>").as(vecAs)) ++
      extra: _*)

  /** The scored cosine every retrieval operator ranks or gates on: the
    * fused [[graft.functions.GraftFunctions.cosine]] kernel rounded to
    * 6 dp. The rounding is what makes results hash-equal across engines:
    * a DuckDB oracle recomputes the cosine with its own float
    * accumulation, and 6 dp absorbs those last-bit differences, so both
    * engines see the same score and the same ties. */
  private[sim] def cosine6(a: Column, b: Column): Column =
    round(GraftFunctions.cosine(a, b), 6)

  /** The rank rule of every top-k operator over `(query_id, neighbor_id,
    * cosine_sim)`: per query, highest `cosine_sim` first, exact ties
    * (equal 6-dp scores, duplicate vectors among them) to the smaller
    * `neighbor_id`; keeps `rank ≤ k`. The oracles replay this rule as
    * `row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC,
    * neighbor_id)`. Returns `(query_id, neighbor_id, carry…, cosine_sim,
    * rank)`. */
  private[sim] def topK(scored: DataFrame, k: Int, carry: String*): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select((Seq("query_id", "neighbor_id") ++ carry ++ Seq("cosine_sim", "rank"))
        .map(col): _*)
  }

  /** Exact scoring against a broadcast side (the core of [[bruteForceTopK]],
    * [[hardNegativesTopK]] and [[knnDensity]]): broadcast `(query_id, __qv
    * [, __qlabel])` × streamed `(neighbor_id, __cv[, neighbor_label])`,
    * minus the pair itself (with `labelCol`: minus same-label pairs)
    * BEFORE the dot product, plus `cosine_sim`. */
  private def exactScored(corpus: DataFrame, corpusIdCol: String,
                          queries: DataFrame, queryIdCol: String,
                          vecCol: String, labelCol: Option[String]): DataFrame = {
    val q = broadcast(vectors(queries, queryIdCol, vecCol, "query_id", "__qv",
      labelCol.map(l => col(l).as("__qlabel")).toSeq: _*))
    val c = vectors(corpus, corpusIdCol, vecCol, "neighbor_id", "__cv",
      labelCol.map(l => col(l).as("neighbor_label")).toSeq: _*)
    val keep = if (labelCol.isEmpty) col("neighbor_id") =!= col("query_id")
      else col("neighbor_label") =!= col("__qlabel")
    c.crossJoin(q).where(keep)
      .withColumn("cosine_sim", cosine6(col("__cv"), col("__qv")))
  }

  /** Exact top-k by cosine for each query vector. `queries` must be small
    * (it is broadcast); corpus side streams — no corpus shuffle until the
    * final per-query top-k, which is a window over k·|queries| rows. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, queryIdCol: String,
                     k: Int = 10): DataFrame =
    topK(exactScored(corpus, idCol, queries, queryIdCol, vecCol, None), k)

  /** kNN-density outlier score over an ANCHOR panel: each vector's cosine
    * similarity to its `k`-th most-similar anchor (self excluded, 6-dp
    * det-round, ties to the smaller anchor id). The embedding-space
    * quality gate between [[prototypeFilter]] (distance to ONE seed mean)
    * and [[graft.sim.Cluster]]'s SemDeDup (full clustering): a LOW k-th
    * anchor similarity marks an isolated embedding (encoder junk, OOD
    * content — the "does anything else look like this?" filter of
    * SSL-prototype / SemDeDup-family curation), a HIGH one marks dense
    * near-dup mass. Returns the input id column + `knn_sim`.
    *
    * Exact-kNN-vs-the-panel is deliberate: against a fixed anchor panel
    * the score is exactly SQL-replayable (per-row array reduction order is
    * fixed in both engines), where a corpus-wide exact kNN would be
    * all-pairs. Panel size bounds both cost and memory.
    *
    * Scale: anchors BROADCAST (a panel is 10²–10⁴ rows by construction —
    * sample via [[graft.ops.Filters]] portable gates for auditability);
    * scoring is map-only against the broadcast; the only shuffle is the
    * per-vector rank window over |anchors| rows per vector. Corpus is
    * never self-joined — 10¹⁰ vectors cost one scan.
    *
    * Contract: the panel must offer at least `k` anchors to every vector
    * (≥ k+1 anchors overall, since a vector that IS an anchor excludes
    * itself) — a vector with fewer than `k` scored anchors has no rank-k
    * row and is ABSENT from the output. */
  def knnDensity(df: DataFrame, anchors: DataFrame, idCol: String,
                 vecCol: String, k: Int = 8): DataFrame = {
    require(k > 0, "k must be positive")
    // each vector streams as the core's corpus side (`neighbor_id`), the
    // anchors are its broadcast side (`query_id`); the rank runs per vector
    val scored = exactScored(df, idCol, anchors, idCol, vecCol, None)
    val w = Window.partitionBy(col("neighbor_id"))
      .orderBy(col("cosine_sim").desc, col("query_id"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === k)
      .select(col("neighbor_id").as(idCol), col("cosine_sim").as("knn_sim"))
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the exact top-k most-similar corpus vectors whose `labelCol` DIFFERS
    * from the query's — the "closest wrong answers" every embedding-model
    * trainer feeds its InfoNCE/triplet loss. Same broadcast topology as
    * [[bruteForceTopK]] (query side small and broadcast, corpus streams
    * map-only; the only shuffle is the per-query top-k window over rows
    * that survive the label filter). The label filter runs BEFORE the
    * cosine so same-label pairs never pay the dot product.
    *
    * Returns `(query_id, neighbor_id, neighbor_label, cosine_sim, rank)`.
    *
    * Scale: for corpora where brute force is too hot, mine within an ANN
    * shortlist instead — compose [[ivfTopK]] with an oversized k and
    * filter labels on the shortlist; this exact form is the correctness
    * anchor the ANN variant is measured against (same contract as
    * bruteforce vs IVF recall). */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, labelCol: String,
                        k: Int = 5): DataFrame =
    topK(exactScored(corpus, idCol, queries, idCol, vecCol, Some(labelCol)), k,
      "neighbor_label")

  /** Hard-negative mining on an ANN shortlist — the >10⁹-corpus form
    * [[hardNegativesTopK]]'s Scaladoc names: [[ivfTopK]] retrieves an
    * OVERSAMPLED top-(oversample·k) per query; labels join onto the
    * shortlist (queries × oversample·k rows — never the corpus); same-
    * label rows drop; survivors re-rank to top-k. Oversampling buys back
    * the slots same-label neighbors occupy in the unlabeled shortlist;
    * recall vs the exact miner is the IVF shortlist's recall.
    *
    * Topology: the label join streams the corpus's (id, label) projection
    * against the BROADCAST shortlist — the corpus is never shuffled here
    * (and ivfTopK's own contract already keeps it shuffle-free up to the
    * per-query top-k). Spec-pinned: exhaustive probes + full oversample ≡
    * [[hardNegativesTopK]] exactly; restricted probes stay same-label-free
    * and rank by true cosine. */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, labelCol: String,
                       k: Int = 5, oversample: Int = 4,
                       nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val short = ivfTopK(corpus, queries, idCol, vecCol, idCol,
      k = k * oversample, nCentroids = nCentroids, nProbe = nProbe)
    val queryLabels = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("__qlabel"))
    val corpusLabels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"))
    val filtered = corpusLabels
      .join(broadcast(short.join(queryLabels, Seq("query_id"))),
        Seq("neighbor_id"))
      .where(col("neighbor_label") =!= col("__qlabel"))
    topK(filtered, k, "neighbor_label")
  }

  /** Integer micro-unit dot product of two quantized vectors (exact —
    * |components| ≤ ~10⁶ ⇒ 64-dim sums stay far below 2⁶³). */
  private def dotLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Micro-quantized UNIT vector: `round((x/‖v‖)·10⁶)` as long. sqrt and
    * divide are correctly-rounded IEEE ops, so the integers replay
    * bit-for-bit in any engine (the [[graft.sim.Cluster.quantize]] /
    * temperatureSample determinism argument). Zero vectors quantize to
    * zeros. */
  private def unitQuantized(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val n = l2Norm(v)
    when(n > 0, transform(v, x => round(x / n * 1000000.0).cast("long")))
      .otherwise(transform(v, _ => lit(0L)))
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein, SIGIR 1998)
    * diversity re-ranking of a retrieval shortlist — the RAG answer to
    * near-duplicate passages crowding a context window: greedily pick k
    * of the top-`shortlist` candidates maximizing
    * `λ·sim(q, c) − (1−λ)·max_{s∈selected} sim(c, s)`.
    *
    * Every similarity is an INTEGER dot product of micro-quantized unit
    * vectors and λ is the integer percentage `lambdaX100`, so the whole
    * greedy is integer arithmetic — the oracle replays it exactly with
    * one unrolled CTE per step. Ties: greatest objective, then smallest
    * candidate id.
    *
    * The greedy runs INSIDE one Catalyst `aggregate` HOF over the
    * per-query candidate array: state = (selected, remaining); each step
    * extracts the argmax by struct max and moves it across. One
    * evaluation per query row — no per-step projections for an optimizer
    * rule to duplicate (the invariant-6 hazard class), no UDFs, no
    * driver loop.
    *
    * Scale: shortlist retrieval here is [[bruteForceTopK]] (swap in
    * [[ivfTopK]] at corpus scale — same downstream contract); everything
    * after is queries×shortlist-sized: the corpus contributes one
    * map-only vector fetch against the broadcast shortlist, then a
    * bounded collect_list per query and the map-only state walk. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, queryIdCol: String,
                k: Int = 4, shortlist: Int = 12,
                lambdaX100: Int = 50): DataFrame = {
    require(k > 0 && shortlist >= k, "need 0 < k <= shortlist")
    require(lambdaX100 >= 0 && lambdaX100 <= 100, "lambdaX100 in 0..100")
    val short = bruteForceTopK(corpus, queries, idCol, vecCol, queryIdCol,
      k = shortlist)
    val candVecs = corpus.select(col(idCol).as("neighbor_id"),
      unitQuantized(col(vecCol)).as("__cv"))
    val qVecs = queries.select(col(queryIdCol).as("query_id"),
      unitQuantized(col(vecCol)).as("__qv"))
    // corpus streams once against the broadcast shortlist; queries are
    // broadcast-sized by the bruteForceTopK contract
    val cands = candVecs
      .join(broadcast(short.select("query_id", "neighbor_id")), Seq("neighbor_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .withColumn("__sq", dotLong(col("__cv"), col("__qv")))
      // struct leads with (-sq, id): natural ascending array_sort = the
      // deterministic (sq desc, id) candidate order
      .select(col("query_id"),
        struct((-col("__sq")).as("o"), col("neighbor_id").as("id"),
          col("__sq").as("sq"), col("__cv").as("v")).as("__c"))
      .groupBy("query_id")
      .agg(array_sort(collect_list(col("__c"))).as("__cands"))
    val lam = lit(lambdaX100.toLong)
    val lamC = lit((100 - lambdaX100).toLong)
    def pen(c: Column, sel: Column): Column =
      coalesce(array_max(transform(sel, s => dotLong(c.getField("v"), s.getField("v")))), lit(0L))
    def obj(c: Column, sel: Column): Column =
      lam * c.getField("sq") - lamC * pen(c, sel)
    val empty = filter(col("__cands"), _ => lit(false))
    val init = struct(empty.as("sel"), col("__cands").as("rem"))
    val walked = aggregate(sequence(lit(1), lit(k)), init, (st, _) => {
      val sel = st.getField("sel")
      val rem = st.getField("rem")
      val best = array_max(transform(rem,
        c => struct(obj(c, sel).as("o"), (-c.getField("id")).as("t"), c.as("c"))))
      when(size(rem) > 0,
        struct(
          concat(sel, array(best.getField("c"))).as("sel"),
          filter(rem, c => c.getField("id") =!= best.getField("c").getField("id")).as("rem")))
        .otherwise(st)
    })
    cands.select(col("query_id"), posexplode(walked.getField("sel")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("mmr_rank"),
        col("col.id").as("neighbor_id"), col("col.sq").as("sim_q_int"))
  }

  /** All-tables SRP bucketing in one native pass ([[graft.functions.SrpKeys]]). */
  private def srpBucketed(df: DataFrame, id: String, vecCol: String,
                          outId: String, outVec: String,
                          nBits: Int, nTables: Int): DataFrame = {
    vectors(df, id, vecCol, outId, outVec)
      .select(col(outId), col(outVec),
        posexplode(GraftFunctions.srpKeys(col(outVec), nBits, nTables))
          .as(Seq("__t", "__key")))
  }

  /** Approximate top-k: probe SRP buckets across `nTables` hash tables,
    * rank candidates by exact cosine. Recall grows with nTables; cost is
    * bounded by bucket occupancy, not corpus size. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, queryIdCol: String,
              dim: Int, k: Int = 10, nBits: Int = 12, nTables: Int = 4): DataFrame = {
    val c = srpBucketed(corpus, idCol, vecCol, "neighbor_id", "__cv", nBits, nTables)
    val q = srpBucketed(queries, queryIdCol, vecCol, "query_id", "__qv", nBits, nTables)
    // cosine BEFORE the candidate-dedup: re-evaluates per bucket collision
    // (bounded by nTables) but the distinct then shuffles one scalar per
    // pair instead of two dim-length vectors
    val cand = c.join(q, Seq("__t", "__key"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim", cosine6(col("__cv"), col("__qv")))
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
      .dropDuplicates("query_id", "neighbor_id")
    topK(cand, k)
  }

  /** Hash-ranked deterministic centroid draws (a k-means-free stand-in
    * that needs no training step), collected to the driver — `n` rows,
    * literal-sized by construction. Returns the (id, vector) picks plus a
    * same-content LOCAL DataFrame (rebuilt from the collected rows, so the
    * query-side probe joins never re-scan the corpus). Expects the
    * normalized `(neighbor_id, __cv)` corpus projection. */
  private[graft] def collectCentroids(c: DataFrame, n: Int, idName: String,
      vecName: String): (Seq[(Any, Seq[Double])], DataFrame) = {
    val picked = c.withColumn("__r", xxhash64(col("neighbor_id")))
      .orderBy(col("__r"), col("neighbor_id")).limit(n)
      .select(col("neighbor_id").as(idName), col("__cv").as(vecName))
    val rows = picked.collect().toSeq
    require(rows.nonEmpty, "corpus is empty — no centroids to draw")
    val local = c.sparkSession.createDataFrame(rows.asJava, picked.schema)
    (rows.map(r => (r.get(0), r.getSeq[Double](1).toVector)), local)
  }

  /** MAP-ONLY nearest-centroid assignment against LITERAL centroid
    * vectors: one fused-cosine walk per centroid, argmax cosine with
    * first-index tie-break, zero Exchange — the corpus is never shuffled
    * for its own assignment. (The previous crossJoin + groupBy form
    * hash-shuffled the full vector-carrying corpus once per level; at
    * 100 TB that shuffle dominates the index build. Same topology as
    * [[Cluster.assignQuantized]].) Adds `outCol` = the 0-based centroid
    * index. `__sims` is referenced twice in the argmax projection — the
    * CLAUDE.md invariant-6 barrier that keeps CollapseProject from
    * re-evaluating the distance walk per array element. */
  private[graft] def assignIdx(df: DataFrame, vecCol: String, outCol: String,
                               centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    df.withColumn("__sims", transform(Cluster.centroidsLit(centroids),
        cc => GraftFunctions.cosine(col(vecCol), cc)))
      .withColumn(outCol,
        (array_position(col("__sims"), array_max(col("__sims"))) - 1).cast("int"))
      .drop("__sims")
  }

  /** Each query's `n` nearest centroids of the broadcast centroid frame
    * `cents` by unrounded fused cosine, ties to the smaller centroid id:
    * `(query_id, __qv, idName)`. The coarse probe of [[ivfTopK]],
    * [[ivfTopK2]] and [[PQ.ivfAdcTopK]]. */
  private def probe(q: DataFrame, cents: DataFrame, idName: String,
                    vecName: String, n: Int): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("__sim", GraftFunctions.cosine(col("__qv"), col(vecName)))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__sim").desc, col(idName))))
      .where(col("__pr") <= n)
      .select(col("query_id"), col("__qv"), col(idName))

  /** The single-level IVF build and probe of [[ivfTopK]] and
    * [[PQ.ivfAdcTopK]]: `nCentroids` hash-ranked centroid picks from the
    * `(neighbor_id, __cv)` corpus projection `c` ([[collectCentroids]]),
    * every corpus vector assigned map-only to its nearest one
    * ([[assignIdx]]), and each `(query_id, __qv)` query's `nProbe`
    * nearest centroids ([[probe]]). Returns `(assigned, probes)`:
    * `c` + `centroid_id`, and `(query_id, __qv, centroid_id)`. */
  private[sim] def ivfProbed(c: DataFrame, q: DataFrame, nCentroids: Int,
                             nProbe: Int): (DataFrame, DataFrame) = {
    val (cents, centDf) = collectCentroids(c, nCentroids, "centroid_id", "__centroid")
    val idLit = array(cents.map(p => lit(p._1)): _*)
    val assigned = assignIdx(c, "__cv", "__ci", cents.map(_._2))
      .withColumn("centroid_id", element_at(idLit, col("__ci") + 1))
      .drop("__ci")
    (assigned, probe(q, centDf, "centroid_id", "__centroid", nProbe))
  }

  /** The IVF exact refine: the assigned corpus streams against the
    * broadcast probe rows on the bucket `keys` (no corpus shuffle until
    * the final per-query top-k window over candidate rows), the query
    * itself is excluded, and candidates rank by [[cosine6]]. */
  private def bucketTopK(assigned: DataFrame, probes: DataFrame,
                         keys: Seq[String], k: Int): DataFrame =
    topK(assigned.join(broadcast(probes), keys)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim", cosine6(col("__cv"), col("__qv"))), k)

  /** IVF (inverted-file) approximate top-k: the centroid-bucketed scale
    * path. `nCentroids` vectors are drawn deterministically from the corpus
    * ([[collectCentroids]]), every corpus vector is assigned to its nearest
    * centroid map-only against the literal centroid array ([[assignIdx]] —
    * ZERO corpus shuffle, spec-asserted), and each query probes its
    * `nProbe` nearest centroid buckets. The probe rows are broadcast into
    * the bucket join, so the only corpus-row shuffle in the whole plan is
    * the final per-query top-k over the probed buckets' candidates. Cost
    * per query ≈ nProbe/nCentroids of the corpus.
    *
    * QUERY-BATCH CONTRACT: the query side (nProbe rows per query, each
    * carrying the full query vector) is explicitly broadcast — that is
    * the trade that keeps the corpus side shuffle-free. It requires the
    * query batch to fit the broadcast threshold (~millions of rows at
    * float dims, not billions). For a corpus-sized query set, chunk the
    * queries and union the results, or fall back to a plain shuffle join
    * on `centroid_id` by dropping the hint.
    *
    * SIZING: set `nCentroids ≈ √N` in production — per-query probe work is
    * `nProbe·N/nCentroids` while assignment work is `N·nCentroids`
    * comparisons, and √N balances the two at O(N^1.5) total for the build
    * and O(√N) per probe. The default 16 is TEST-SCALE (N≈5k → √N≈70 would
    * already over-fragment the tiny corpus). Beyond ~10⁹ vectors, go
    * two-level (coarse IVF over √N cells, each cell IVF'd again) so no
    * bucket outgrows executor memory — see SCALE.md. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, queryIdCol: String,
              k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val (assigned, probes) = ivfProbed(
      vectors(corpus, idCol, vecCol, "neighbor_id", "__cv"),
      vectors(queries, queryIdCol, vecCol, "query_id", "__qv"), nCentroids, nProbe)
    bucketTopK(assigned, probes, Seq("centroid_id"), k)
  }

  /** TWO-LEVEL IVF approximate top-k — the >10⁹-vector path sketched in
    * SCALE.md, where a single-level bucket (N/√N vectors) would outgrow
    * executor memory: `nCoarse` coarse cells, each refined by
    * `nFinePerCell` fine centroids drawn FROM that cell; every corpus
    * vector lands in a (cell, fine) bucket of ≈ N/(nCoarse·nFinePerCell)
    * vectors. A query probes its `probeCoarse` nearest cells and, within
    * them, the `probeFine` nearest fine centroids — candidate volume is
    * probeFine buckets, independent of N's square root.
    *
    * Both centroid tables stay broadcast-sized (nCoarse, then
    * nCoarse·nFinePerCell rows); the corpus is never self-joined and is
    * assigned MAP-ONLY against nested literal centroid arrays (zero
    * corpus shuffle — the fine-centroid SELECTION shuffles only a scalar
    * (id, cell, hash) projection, never the vectors, and the winners'
    * vectors come back via a broadcast semi-join). Centroids are
    * hash-ranked picks (k-means-free, deterministic), like the
    * single-level form. Same QUERY-BATCH CONTRACT as [[ivfTopK]]: the
    * probed (cell, fine) query rows are broadcast — queries must stay
    * broadcast-sized; chunk a huge query batch. */
  def ivfTopK2(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, queryIdCol: String,
               k: Int = 10, nCoarse: Int = 4, nFinePerCell: Int = 4,
               probeCoarse: Int = 2, probeFine: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    val cos = GraftFunctions.cosine _
    val c = vectors(corpus, idCol, vecCol, "neighbor_id", "__cv")
    // level 1: coarse cells — literal picks, map-only corpus assignment
    val (cells, coarseDf) = collectCentroids(c, nCoarse, "cell_id", "__cc")
    val cellIdLit = array(cells.map(p => lit(p._1)): _*)
    val inCell = assignIdx(c, "__cv", "__ci", cells.map(_._2))
    // level 2 SELECTION: per-cell hash-ranked picks over a SCALAR
    // (id, cell, hash) projection — vectors never enter this shuffle; the
    // winners' vectors are fetched by a broadcast semi-join (one extra
    // map pass over the corpus) and collected (≤ nCoarse·nFinePerCell
    // rows, driver-sized by construction)
    val finePicked = inCell
      .select(col("neighbor_id"), col("__ci"), xxhash64(col("neighbor_id")).as("__r"))
      .withColumn("__fr", row_number().over(
        Window.partitionBy(col("__ci")).orderBy(col("__r"), col("neighbor_id"))))
      .where(col("__fr") <= nFinePerCell)
      .select("neighbor_id", "__ci", "__fr")
    val fineRows = c.join(broadcast(finePicked), Seq("neighbor_id"))
      .select(col("__ci"), col("__fr"), col("neighbor_id"), col("__cv"))
      .collect().toSeq.sortBy(r => (r.getInt(0), r.getInt(1)))
    val fineByCell: IndexedSeq[Seq[(Any, Seq[Double])]] =
      (0 until nCoarse).map { ci =>
        fineRows.filter(_.getInt(0) == ci)
          .map(r => (r.get(2), r.getSeq[Double](3).toVector))
      }
    val idType = c.schema("neighbor_id").dataType
    val vecType = c.schema("__cv").dataType
    val fineVecLit = array(fineByCell.map { fs =>
      if (fs.isEmpty) array().cast("array<array<double>>")
      else Cluster.centroidsLit(fs.map(_._2))
    }: _*)
    val fineIdLit = array(fineByCell.map { fs =>
      if (fs.isEmpty) array().cast(org.apache.spark.sql.types.ArrayType(idType))
      else array(fs.map(f => lit(f._1)): _*)
    }: _*)
    // map-only fine assignment: walk ONLY the row's own cell's fine
    // centroids (nested literal lookup); __fsims double-referenced = the
    // invariant-6 projection barrier
    val assigned = inCell
      .withColumn("__fsims", transform(element_at(fineVecLit, col("__ci") + 1),
        fc => cos(col("__cv"), fc)))
      .withColumn("__fi", array_position(col("__fsims"), array_max(col("__fsims"))).cast("int"))
      .select(element_at(cellIdLit, col("__ci") + 1).as("cell_id"),
        element_at(element_at(fineIdLit, col("__ci") + 1), col("__fi")).as("fine_id"),
        col("neighbor_id"), col("__cv"))
    // probing: coarse cells first, fine centroids within them — both
    // centroid tables are LOCAL frames rebuilt from the collected rows
    val fineDf = broadcast(spark.createDataFrame(
      fineRows.map(r => Row(cells(r.getInt(0))._1, r.get(2), r.get(3))).asJava,
      StructType(Seq(StructField("cell_id", idType),
        StructField("fine_id", idType), StructField("__fc", vecType)))))
    val q = vectors(queries, queryIdCol, vecCol, "query_id", "__qv")
    val qCells = probe(q, coarseDf, "cell_id", "__cc", probeCoarse)
    // the fine probe stays its own window: a join to each probed cell's
    // fine centroids, ranked with the two-column (cell_id, fine_id) tie
    val qFine = qCells.join(fineDf, Seq("cell_id"))
      .withColumn("__sim", cos(col("__qv"), col("__fc")))
      .withColumn("__pf", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__sim").desc, col("cell_id"), col("fine_id"))))
      .where(col("__pf") <= probeFine)
      .select(col("query_id"), col("__qv"), col("cell_id"), col("fine_id"))
    bucketTopK(assigned, qFine, Seq("cell_id", "fine_id"), k)
  }

  /** Embedding-cosine near-duplicate pairs over one corpus (id_a < id_b,
    * cosine ≥ threshold), LSH-bucketed — the embedding flavor of
    * [[graft.text.Dedup]]. */
  def cosineDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                     dim: Int, threshold: Double = 0.95,
                     nBits: Int = 10, nTables: Int = 4): DataFrame = {
    // one reused bucket Exchange → SRP keys computed once
    graft.ops.Pairs.selfJoin(
        srpBucketed(corpus, idCol, vecCol, "__id", "__v", nBits, nTables),
        Seq("__t", "__key"), "__id", Seq("__v" -> "v"))
      // cosine + threshold BEFORE the pair-dedup (see lshTopK note): the
      // distinct aggregates scalar rows of passing pairs only
      .withColumn("cosine_sim", cosine6(col("v_a"), col("v_b")))
      .where(col("cosine_sim") >= threshold)
      .select("id_a", "id_b", "cosine_sim")
      .dropDuplicates("id_a", "id_b")
  }

  /** Per-group mean embedding (class centroid / profile vector) in long
    * format `(group, dim, sum_q, n, mean)` — average-pooling over the
    * [[Cluster.quantize]] integer micro-units so the sums are exact and
    * the mean is a deterministic double for ANY summation order (the same
    * determinism scheme as the k-means update).
    *
    * Scale: one posexplode + a (group, dim)-keyed agg with map-side
    * combine — the shuffle carries #groups·dim scalar rows, never vectors;
    * this is exactly the k-means centroid-update topology exposed as a
    * standalone pooling op. */
  def meanVectorLong(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol),
        posexplode(Cluster.quantize(col(vecCol))).as(Seq("dim", "__q")))
      .groupBy(col(groupCol), col("dim"))
      .agg(sum(col("__q")).as("sum_q"), count(lit(1)).as("n"))
      .withColumn("mean",
        (col("sum_q").cast("double") / lit(1000000.0)) / col("n").cast("double"))

  /** Seed-prototype quality filter (embedding-based model filtering, the
    * LLM-data analog of "keep what looks like the curated seed set"):
    * average the seed embeddings into one prototype vector, score every
    * corpus vector by cosine to it, keep the exact top `fraction`.
    *
    * Determinism: the prototype rides [[meanVectorLong]]'s integer
    * micro-unit sums (exact in any summation order), so the per-dim mean
    * is one deterministic double; scores are det-rounded to 6 dp and the
    * kept set resolves boundary ties by `idCol` — the whole pipeline
    * replays exactly in any engine.
    *
    * Scale: the seed aggregate shuffles dim-sized scalar rows (k-means
    * centroid topology with k=1); the driver holds ONE dim-length vector
    * (bounded, same contract as `Cluster.kmeans`); scoring is a map-only
    * literal-prototype projection; the exact cut reuses
    * `Filters.topFractionByGroupExact` — a (score)-histogram threshold,
    * never a corpus-wide single-task window. */
  def prototypeFilter(df: DataFrame, idCol: String, vecCol: String,
                      seed: DataFrame, seedVecCol: String,
                      fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1, "fraction must be in (0, 1]")
    val dims = meanVectorLong(
        seed.select(lit(1).as("__g"), col(seedVecCol).as("__v")), "__g", "__v")
      .select("dim", "mean").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    require(dims.nonEmpty, "seed set must be non-empty")
    val proto = array(dims.toIndexedSeq.map(lit(_)): _*)
    val scored = df.withColumn("proto_sim",
      cosine6(col(vecCol).cast("array<double>"), proto))
    graft.ops.Filters.topFractionByGroupExact(
        scored.withColumn("__g", lit(1)), "__g", "proto_sim", fraction, idCol)
      .drop("__g")
  }

  /** Symmetric per-vector int8 quantization — the storage/transport
    * compression leg for embedding tables (4× vs fp32, 8× vs the fp64
    * working form): each vector is scaled by its own max-|x| so codes
    * span the full [−127, 127] range; `code_i = ⌊x_i·127/maxabs + 0.5⌋`
    * (round-half-up), `scale = maxabs/127`, dequant `code·scale`.
    * Zero/empty vectors quantize to all-zero codes with scale 0.
    *
    * Cross-engine exactness: maxabs is a SELECTION (fold of greatest/abs,
    * no accumulation rounding), and every remaining step is one
    * correctly-rounded IEEE double op — so codes AND scale are bit-exact
    * in any engine, unlike sum-based norms. The triple reference to the
    * staged `__maxabs` keeps it a projection barrier (invariant 6) — the
    * fold runs once per row, not once per element.
    *
    * Scale: map-only projection, zero shuffle; composes ahead of
    * [[bruteForceTopK]]/[[ivfTopK]] for int8-resident search (dequantize
    * in the distance kernel or pre-scale queries). */
  def int8Quantize(df: DataFrame, vecCol: String, as: String = "codes",
                   scaleCol: String = "scale"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.withColumn("__maxabs",
        aggregate(v, lit(0.0d), (acc, x) => greatest(acc, abs(x))))
      .withColumn(scaleCol, col("__maxabs") / lit(127.0d))
      .withColumn(as,
        when(col("__maxabs") === 0.0d, transform(v, _ => lit(0)))
          .otherwise(transform(v,
            x => floor(x * lit(127.0d) / col("__maxabs") + lit(0.5d))
              .cast("int"))))
      .drop("__maxabs")
  }
}
