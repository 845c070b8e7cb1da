package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pins
import graft.functions.GraftFunctions
import graft.ops.Pairs

/** Deduplication kit for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup. Extension beyond the
  * reference surface (SURVEY §7.6 north-star).
  *
  * Scale design: every method is shuffle-bounded by (band/bucket key), never
  * all-pairs over the corpus. MinHash-LSH shuffles each doc `bands` times
  * (constant), candidate verification happens only within buckets, and the
  * keep-one winner is resolved with one window pass — the standard
  * web-scale near-dedup topology (cf. the MinHashLSH design in Spark MLlib
  * and the Lee et al. "Deduplicating Training Data" recipe).
  *
  * Evaluation-cost note (measured, not theoretical): tokenization and
  * n-gram building are staged as SEPARATE projections whose outputs are
  * referenced at least twice downstream. Catalyst's `CollapseProject`
  * inlines an alias referenced once, and an inlined array expression gets
  * re-evaluated inside EVERY higher-order-function lambda element — a
  * single-projection formulation re-ran the full regex tokenization once
  * per minhash seed (64×/row). The staging below keeps a projection
  * barrier so each stage computes once per row.
  */
object Dedup {

  /** The kept containment fingerprint keys join as a shuffled side instead
    * of a broadcast above this many keys (8-byte longs → ~32 MB at the
    * gate; see the kept-postings semi-join in
    * [[containmentVerifiedPairsFromPrepped]]). */
  private val MaxBroadcastKeys = 4000000L

  // ---------------------------------------------------------------- exact

  /** Exact dedup on normalized content hash: keep one row (lowest id) per
    * distinct fingerprint. One hash-shuffle; no sort of the full corpus. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextStats.fingerprint(col(textCol))
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    df.withColumn("__fp", fp)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  // ------------------------------------------------- duplicate clusters

  /** Connected components over a near-dup PAIR list → `(id, cluster_id)`
    * with `cluster_id` = the smallest id in the component; both columns
    * take the ids' (common) type. This is the step between "pairs above
    * threshold" and "keep one document per duplicate CLUSTER" that a real
    * dedup pipeline needs: near-duplication is not transitive (a~b, b~c
    * does not imply a~c above threshold), so per-pair keep-min
    * under-deletes chains.
    *
    * Algorithm: contract, then label only what is left (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14).
    *  1. Contract: the pair list goes through one hash exchange with no
    *     partition count, so AQE sizes it by bytes and coalesces a small
    *     list into one task; each partition then runs union-find over its
    *     own pairs (root = smallest id, path compression) and emits
    *     `(id, root)` per id it saw. Memory per task grows with the
    *     DISTINCT ids of that partition, never with the corpus. The
    *     result is pinned (one checkpoint, two jobs).
    *  2. One partition: its roots ARE the components — no label round
    *     runs. The partition count of the pin is read on the driver
    *     without a job.
    *  3. Several partitions: an id seen in several of them links its
    *     local roots (smallest root → each other one). The min-label
    *     rounds of [[labelRounds]] run on that ROOT graph only, and each
    *     id takes its smallest root's label.
    *
    * Ids never connect through a null: a pair with a null end adds its
    * other end as a node, and a null id comes out once as `(null, null)`.
    *
    * If `maxIter` rounds pass without convergence the method THROWS —
    * returning half-propagated labels would silently split one component
    * into several "clusters" and downstream keep-one-per-cluster would
    * delete the wrong documents. */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
                        idB: String = "id_b", maxIter: Int = 20): DataFrame =
    duplicateClustersWithRounds(pairs, idA, idB, maxIter)._1

  /** [[duplicateClusters]] + the number of label rounds it ran: 0 when the
    * contraction left one partition. */
  private[graft] def duplicateClustersWithRounds(
      pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20): (DataFrame, Int) = {
    val t = pairs.select(coalesce(col(idA), col(idB))).schema.head.dataType
    val edges = pairs.select(col(idA).cast(t).as("src"), col(idB).cast(t).as("dst"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", t).add("root", t)
    val local = Pins.pin(edges.repartition(least(col("src"), col("dst")))
      .mapPartitions(unionFind)(org.apache.spark.sql.Encoders.row(schema)))
    if (local.rdd.getNumPartitions <= 1)
      (local.select(col("id"), col("root").as("cluster_id")), 0)
    else {
      val glue = local.groupBy("id")
        .agg(min("root").as("root"), collect_set("root").as("roots"))
      val (labels, rounds) = labelRounds(
        glue.select(col("root").as("id_a"), explode(col("roots")).as("id_b"))
          .where(col("id_a") =!= col("id_b")), maxIter = maxIter)
      (glue.join(labels.withColumnRenamed("id", "root"), Seq("root"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("root")).as("cluster_id")), rounds)
    }
  }

  /** Union-find over one partition's `(src, dst)` rows → `(id, root)` for
    * every distinct non-null id seen, root = the smallest id connected to
    * it within the partition, plus one `(null, null)` if a null end was
    * seen. The union links the larger root under the smaller, so a root is
    * always its set's minimum; finds compress the path they walk. */
  private def unionFind(rows: Iterator[Row]): Iterator[Row] = {
    val parent = new java.util.HashMap[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    var sawNull = false
    def add(x: Any): Unit = if (x == null) sawNull = true else parent.putIfAbsent(x, x)
    rows.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      add(a)
      add(b)
      if (a != null && b != null) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra.asInstanceOf[Comparable[Any]].compareTo(rb) < 0) parent.put(rb, ra)
          else parent.put(ra, rb)
        }
      }
    }
    // a find while iterating only re-points existing keys: no structural change
    import scala.jdk.CollectionConverters._
    parent.keySet.iterator.asScala.map(k => Row(k, find(k))) ++
      (if (sawNull) Iterator.single(Row(null, null)) else Iterator.empty)
  }

  /** Connected components by min-label rounds — the plain form
    * [[duplicateClusters]] runs on its root graph, and the reference it is
    * checked against — + the number of rounds run (the last one is the
    * zero-change confirmation sweep).
    *
    * Each round a node (1) takes the min of its own and its neighbors'
    * labels, then (2) shortcuts through its label's label (`L(v) ←
    * L(L(v))`, the hash-to-min idea of Rastogi et al. ICDE'13 expressed
    * as one labels⋈labels self-join). Labels only ever decrease toward the
    * component min, and the jump composes reach multiplicatively
    * (reach_{k+1} = 2·(reach_k + 1)), so convergence takes O(log diameter)
    * rounds — a 20-hop chain settles in 4 rounds + 1 confirmation sweep.
    * Each round is one hash-shuffle join on the edge list plus one
    * node-sized label self-join, both pinned (invariant 7: the lineage of
    * a driver loop otherwise nests every previous round). The second pin
    * carries a `changed` flag per node, so the driver's convergence test
    * is a map-only scan of that pin, never a join. */
  private[graft] def labelRounds(
      pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20): (DataFrame, Int) = {
    val edges = Pins.pin(pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct())
    var labels = Pins.pin(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // shuffle_hash on the node-dim labels side: SMJ would re-sort the
      // loop-invariant edge list EVERY round (the sort above the edges
      // scan is not reusable across rounds) — same fix as the r12
      // PageRank/triangle joins in ops/Graph.scala.
      val viaNeighbors = edges.join(labels.select(col("id").as("dst"), col("label").as("nlabel"))
          .hint("shuffle_hash"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("nlabel").as("nmin"))
      val stepped = Pins.pin(labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          col("label").as("old")))
      // pointer jump: L(v) ← min(L(v), L(L(v))). Every label IS a node id
      // (mins of node ids over a label table covering all nodes), so the
      // left join matches except at self-labeled roots.
      val next = Pins.pin(stepped.join(
          stepped.select(col("id").as("__pid"), col("label").as("__plabel")),
          col("label") === col("__pid"), "left")
        .select(col("id"), least(col("label"), coalesce(col("__plabel"), col("label"))).as("label"),
          col("old"))
        .withColumn("changed", col("label") =!= col("old")))
      labels = next.select(col("id"), col("label"))
      // one map-only job: does any partition of the pin hold a change?
      converged = !next.where(col("changed")).select().rdd
        .mapPartitions(rows => Iterator(rows.hasNext)).collect().contains(true)
      iter += 1
    }
    if (!converged)
      sys.error(s"duplicateClusters did not converge in $maxIter rounds " +
        "(far beyond any component diameter at log-round reach); raise " +
        "maxIter — partial labels would mis-split components")
    (labels.select(col("id"), col("label").as("cluster_id")), iter)
  }

  /** Canonical-document resolution: exactly one survivor per duplicate
    * cluster, chosen by quality. `clusters` is [[duplicateClusters]]
    * output `(id, cluster_id)` — docs absent from it (no near-dup edge)
    * are their own singleton cluster and always survive. Winner = greatest
    * `scoreCol`, ties to smallest `idCol` — fully deterministic across
    * layouts. Returns `df` + `cluster_id` + boolean `kept`.
    *
    * Scale: one equi-join on the doc id (the clusters side is only the
    * docs that HAVE duplicates — a small fraction of the corpus) and one
    * window partitioned by cluster id, whose partitions are duplicate
    * clusters (bounded by cluster size, never corpus-sized). The pattern
    * completes the dedup story: pair finding (minhash/ngram) → components
    * ([[duplicateClusters]]) → canonical keep (this). */
  def keepBestPerCluster(df: DataFrame, clusters: DataFrame, idCol: String,
                         scoreCol: String): DataFrame = {
    val labeled = df.join(
        clusters.withColumnsRenamed(Map("id" -> idCol)), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol))
    labeled.withColumn("kept", row_number().over(w) === 1)
  }

  /** The graft latin tokenizer — the [[graft.functions.GraftTokens]]
    * native kernel (one static-call expression, codegen-cache-stable
    * across plan rebuilds; the Column chain it replaced re-janino-compiled
    * per DataFrame construction — see the kernel doc). Semantics are
    * bit-identical to [[tokensColReference]]; TextSimSpec pins the
    * equivalence differentially. */
  private[graft] def tokensCol(text: Column, keepAccents: Boolean = true): Column =
    GraftFunctions.tokens(text, keepAccents, dropEmpty = false)

  /** Partition count for the kernel fan-out exchanges: the session's
    * shuffle parallelism, PINNED as an explicit count — a bare
    * `repartition(col)` is REPARTITION_BY_COL, which AQE's byte-based
    * coalescing collapses to one partition on small text (measured r15:
    * an 842 KB text exchange coalesced to 1 task and serialized the
    * minhash kernel it existed to parallelize — byte-based sizing cannot
    * see downstream per-row CPU). An explicit count is exempt. */
  private def fanOutParts(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** [[tokensCol]] with empty tokens dropped in the kernel — replaces the
    * `filter(tokensCol(_), t ≠ "")` HOF of the feature-stream callers
    * (Dsir/Classifier/UnigramLM/BigramLM/InvertedIndex). */
  private[graft] def tokensNeCol(text: Column, keepAccents: Boolean = true): Column =
    GraftFunctions.tokens(text, keepAccents, dropEmpty = true)

  /** READABLE REFERENCE FORM of the tokenizer semantics (spec-pinned
    * against the kernel; not used on any hot path). */
  private[graft] def tokensColReference(text: Column, keepAccents: Boolean = true): Column = {
    val cls = if (keepAccents) "[^a-z0-9áéíóúñü ]" else "[^a-z0-9 ]"
    split(regexp_replace(lower(trim(text)), cls, ""), "\\s+")
  }

  /** Word n-grams from a MATERIALIZED tokens column (an attribute, so the
    * per-element `slice` reads a row field instead of re-tokenizing). */
  def ngramsFromTokens(tokens: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(tokens) - n, lit(0))),
      i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))

  // ------------------------------------------------------ minhash + LSH

  /** LSH band keys: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band — docs sharing ANY band key are candidates. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(concat_ws(",",
          slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)).cast("array<string>"))).as("key")))

  /** doc → (id, sig) → exploded (id, sig, band, key). The whole signature
    * path is native codegen: tokens → [[graft.functions.NgramHashes]]
    * (gram strings never materialize) → [[graft.functions.MinHashLong]].
    *
    * `fanOut = false` for PROBE-SIZED inputs (eval suites, per-batch
    * probes): the corpus-side fan-out exchange is pure overhead on a
    * 50-doc frame — measured r16: the unconditional r15 fan-out regressed
    * q_decontam_inc 1.51 → 2.09 s in the driver run (VERDICT r15 #1), so
    * callers that sign suite-sized frames keep the map-only shape. */
  private def banded(df: DataFrame, textCol: String, idCol: String,
                     numHashes: Int, bands: Int,
                     fanOut: Boolean = true): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Fan the kernel stage out on the id key BEFORE tokenize/hash: fused
    // to the scan, the kernels inherit the INPUT LAYOUT's parallelism —
    // one unsplittable file (single parquet row group) serializes the
    // whole signature pipeline onto one core (guide §2.5 input skew;
    // measured r15: every sf0.1 table is one row group, so kernel stages
    // ran 1-task). One text-sized exchange is minor next to the gram/band
    // shuffles these ops already pay, at any scale.
    (if (fanOut) df.repartition(fanOutParts(df), col(idCol)) else df)
      .withColumn("__tokens", tokensCol(col(textCol)))
      .withColumn("__gh", GraftFunctions.ngramHashes(col("__tokens"), 3))
      .withColumn("__sig", GraftFunctions.minhashLong(col("__gh"), numHashes))
      .select(col(idCol).as("__id"), col("__sig"),
        explode(bandKeys(col("__sig"), bands, rowsPerBand)).as("__band"))
      .select(col("__id"), col("__sig"), col("__band.band"), col("__band.key"))
  }

  private def estJaccard(numHashes: Int): Column =
    GraftFunctions.eqPositions(col("sig_a"), col("sig_b"))
      .cast("double") / lit(numHashes)

  /** Band-bucket candidate pairs `(band, key, id_a, sig_a, id_b, sig_b)`
    * of a [[banded]] frame, `id_a < id_b`, once per shared band. */
  private def bandPairs(bd: DataFrame): DataFrame =
    Pairs.selfJoin(bd, Seq("band", "key"), "__id", Seq("__sig" -> "sig"))

  /** MinHash-LSH near-dedup: shingle → minhash → band → bucket-join →
    * greedy resolution: a doc is dropped iff ANY bucket contains a smaller
    * id whose estimated Jaccard ≥ threshold.
    *
    * Returns the deduplicated DataFrame (original columns). */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 numHashes: Int = 64, bands: Int = 16,
                 threshold: Double = 0.8): DataFrame = {
    // estimate Jaccard BEFORE the distinct so the pair shuffle carries
    // scalars, not 64-element signature arrays
    val dupIds = bandPairs(banded(df, textCol, idCol, numHashes, bands))
      .withColumn("__sim", estJaccard(numHashes))
      .where(col("__sim") >= threshold)
      .select(col("id_b").as("__dup")).distinct()
    df.join(dupIds, df(idCol) === dupIds("__dup"), "left_anti")
  }

  /** Duplicate-pair report (id_a < id_b, est. Jaccard) — the analysis form
    * of [[minhashLsh]]. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.8): DataFrame = {
    bandPairs(banded(df, textCol, idCol, numHashes, bands))
      .withColumn("jaccard_est", estJaccard(numHashes))
      // threshold BEFORE the pair-dedup: the estimate is a pure function of
      // the pair, so this is equivalent — and the distinct aggregates only
      // the passing pairs instead of every bucket collision
      .where(col("jaccard_est") >= threshold)
      .select("id_a", "id_b", "jaccard_est")
      .dropDuplicates("id_a", "id_b")
  }

  /** LSH-candidate generation + EXACT verification composed — the
    * production pair source at corpus scale: banding proposes, a coarse
    * signature-agreement gate discards obvious non-pairs cheaply, and the
    * native sorted-merge intersection verifies the survivors with the
    * exact n-gram Jaccard (same gram semantics and 4-dp fixed-point
    * rounding as [[ngramJaccardPairs]], so the two topologies agree
    * bit-for-bit on the pairs both emit). This is the shape SCALE.md
    * prescribes for 100 TB: exact all-pairs Jaccard is inherently
    * quadratic on gram-saturated corpora (r9/r10 weak-flag analysis) and
    * must only ever run on LSH candidate sets — this function IS that
    * composition as one call.
    *
    * Recall is the banding probability `1 − (1 − j^r)^b` (r = rows/band,
    * b = bands): ≈ 0.9998 at j = 0.8, ~1 above 0.85, sliding below 90%
    * under j ≈ 0.6 — the standard LSH trade the caller tunes with
    * `bands`. `candidateEst` only gates candidates CHEAPLY before the
    * array fetch and must sit well below `threshold` (an est two sigma
    * under the true j still passes); it cannot create recall, only save
    * verify work.
    *
    * Scale: signature + gram hashes come from ONE kernel pass (`__gh`
    * feeds both minhash and the verifier); candidates carry scalars
    * through the band shuffle; gram arrays are fetched by id for
    * surviving candidates only (pre-aliased repartition → one reused
    * Exchange, as in [[ngramJaccardPairs]]). */
  def minhashVerifiedPairs(df: DataFrame, textCol: String, idCol: String,
                           numHashes: Int = 64, bands: Int = 16,
                           n: Int = 3, threshold: Double = 0.5,
                           candidateEst: Double = 0.35): DataFrame =
    // one fanned-out kernel pass, materialized (see ngramJaccardPairs):
    // the signature/band subtree and the verify-arrays subtree both read
    // the checkpointed (id, grams) table
    minhashVerifiedPairsFromPrepped(preppedKernelFrame(df, textCol, idCol, n),
      numHashes, bands, threshold, candidateEst)

  /** ONE fanned-out, PINNED kernel pass `(__id, __gh[, __fp])` — THE
    * shared prep of every verified-pair generator and the recall report
    * (r15 advice: the prep exists in exactly one place, so the report's
    * frame cannot silently drift from the production paths whose recall
    * it certifies). `w > 0` adds the winnow-fingerprint column. The
    * explicit-count id repartition lifts the kernels off the (often
    * single-split) scan — guide §2.5 — and the localCheckpoint runs them
    * ONCE for every consuming subtree; per call, no cross-run state. */
  private[graft] def preppedKernelFrame(df: DataFrame, textCol: String,
                                        idCol: String, n: Int,
                                        w: Int = 0): DataFrame = {
    val toks = df.repartition(fanOutParts(df), col(idCol))
      .withColumn("__tokens", tokensCol(col(textCol)))
    val cols = Seq(col(idCol).as("__id"),
      GraftFunctions.ngramHashes(col("__tokens"), n).as("__gh")) ++
      (if (w > 0)
        Seq(GraftFunctions.winnowHashes(col("__tokens"), n, w).as("__fp"))
      else Nil)
    Pins.pin(toks.select(cols: _*))
  }

  /** Contract check for the `...FromPrepped` entry points (r15 advice):
    * the frame must carry the kernel columns and be PINNED — an unpinned
    * frame silently re-runs the kernels per consuming subtree, exactly
    * the recompute the prepped refactor removed. */
  private def requirePrepped(prepped: DataFrame, needed: String*): Unit = {
    needed.foreach(c => require(prepped.columns.contains(c),
      s"prepped kernel frame lacks '$c' — pass Dedup.preppedKernelFrame(...)"))
    require(prepped.queryExecution.logical.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD],
      "prepped kernel frame is not pinned (localCheckpoint) — every " +
        "consuming subtree would re-run the tokenize/ngram kernels")
  }

  /** [[minhashVerifiedPairs]] over an ALREADY-MATERIALIZED `(__id, __gh)`
    * kernel frame — the sharing point for callers that run several banded
    * generators on ONE corpus (the recall report runs this and the winnow
    * containment generator side by side; without the shared frame each
    * leg re-ran the tokenize+ngram kernel pass over the same documents).
    * `prepped` must be pinned (localCheckpoint) by the caller — both the
    * band subtree and the verify-arrays subtree read it. */
  private[graft] def minhashVerifiedPairsFromPrepped(
      prepped: DataFrame, numHashes: Int, bands: Int,
      threshold: Double, candidateEst: Double = 0.35): DataFrame = {
    requirePrepped(prepped, "__id", "__gh")
    val rowsPerBand = numHashes / bands
    val bd = prepped
      .withColumn("__sig",
        GraftFunctions.minhashLong(col("__gh"), numHashes))
      .select(col("__id"), col("__sig"),
        explode(bandKeys(col("__sig"), bands, rowsPerBand)).as("__band"))
      .select(col("__id"), col("__sig"), col("__band.band"), col("__band.key"))
    val cand = bandPairs(bd)
      .where(estJaccard(numHashes) >= candidateEst)
      .select("id_a", "id_b").distinct()
    verifiedJaccard(cand, prepped, threshold)
  }

  // ----------------------------------------------------- decontamination

  /** Benchmark DECONTAMINATION: flag corpus documents sharing at least
    * `minOverlap` distinct word n-grams with ANY document of a benchmark /
    * eval set — the training-data hygiene step of the GPT-3 appendix-C /
    * C4-audit recipes (n-gram collision against held-out sets), which a
    * 100 TB pretraining pipeline runs before training.
    *
    * Returns `(id, n_overlap)` for flagged documents only.
    *
    * Scale: the benchmark's distinct gram-hash set is small by definition
    * (eval suites, not corpora) → broadcast; the corpus explodes its gram
    * hashes ONCE and the broadcast hash-join filters map-side, so the only
    * shuffle is the per-doc overlap count over rows that actually matched.
    * Gram hashing is the native NgramHashes kernel — gram strings never
    * materialize on either side. */
  def contaminationReport(corpus: DataFrame, textCol: String, idCol: String,
                          benchmark: DataFrame, benchTextCol: String,
                          n: Int = 5, minOverlap: Int = 1): DataFrame = {
    def gramHashes(c: String): Column =
      GraftFunctions.ngramHashes(tokensCol(col(c)), n)
    val benchGrams = broadcast(
      benchmark.select(explode(gramHashes(benchTextCol)).as("__g")).distinct())
    corpus
      .select(col(idCol).as("id"), explode(gramHashes(textCol)).as("__g"))
      .join(benchGrams, Seq("__g"))
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
  }

  /** SURGICAL decontamination: the exact token SPANS of benchmark overlap
    * per corpus document — maximal runs of ≥ `minRun` consecutive
    * contaminated n-gram positions, returned as `(id, tok_start,
    * tok_end, n_grams)` with half-open token bounds — so a pipeline can
    * CUT the leaked passage and keep the document, instead of dropping
    * every page that quotes one benchmark sentence
    * ([[contaminationReport]] flags whole documents; this is its
    * span-resolution refinement, the ExactSubstr shape of Lee et al.,
    * ACL 2022, at gram granularity). `minRun` suppresses incidental
    * single-gram vocabulary collisions.
    *
    * Positional grams ride the [[dedupBlocksGlobal]] construction — the
    * token array is materialized as an attribute and each gram slices
    * it per element, so nothing expensive re-evaluates under the
    * Generate (invariant 6 shape). Consecutive positions merge via
    * [[graft.ops.Windows.mergeIntervals]] over unit intervals
    * `[pos, pos+1)` — runs are exactly its touching-islands semantics.
    *
    * Scale: benchmark gram set broadcasts (eval-suite-sized); the corpus
    * gram stream is map-only until the broadcast join filter, so the
    * only shuffle is the hit set (true-overlap-sized) into the island
    * windows keyed by doc. */
  def contaminationSpans(corpus: DataFrame, textCol: String, idCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         n: Int = 5, minRun: Int = 2): DataFrame = {
    require(n >= 1 && minRun >= 1, "n and minRun must be >= 1")
    val base = corpus
      .select(col(idCol).as("id"), tokensCol(col(textCol)).as("__w"))
      .select(col("id"), col("__w"),
        (size(col("__w")) - (n - 1)).as("__ng"))
    val grams = base.where(col("__ng") > 0)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), col("__ng") - 1),
          i => concat_ws(" ", slice(col("__w"), i + 1, lit(n)))))
          .as(Seq("pos", "gram")))
    val benchGrams = broadcast(benchmark
      .select(tokensCol(col(benchTextCol)).as("__bw"))
      .select(explode(ngramsFromTokens(col("__bw"), n)).as("gram"))
      .distinct())
    val hits = grams.join(benchGrams, Seq("gram"))
      .select(col("id"), col("pos"), (col("pos") + 1).as("__end"))
    graft.ops.Windows.mergeIntervals(hits, "id", "pos", "__end")
      .where(col("n_intervals") >= minRun)
      .select(col("id"),
        col("island_start").as("tok_start"),
        // last gram starts at island_end − 1 and covers n tokens
        (col("island_end") + n - 1).as("tok_end"),
        col("n_intervals").as("n_grams"))
  }

  /** FUZZY benchmark decontamination: flag corpus documents whose MinHash
    * signature collides with ANY benchmark document in at least one LSH
    * band AND whose estimated Jaccard clears `threshold` — the
    * near-duplicate complement of [[contaminationReport]]: a
    * lightly-edited eval item (paraphrase tail, shifted whitespace) still
    * lands in its source's band buckets, where the exact-gram overlap
    * count can be gamed by a single-token edit inside every gram window.
    *
    * Returns the contamination EDGE LIST: distinct `(id, bench_id)` pairs
    * above threshold — which corpus docs leak which eval items (one doc
    * may leak several; `groupBy(id).agg(min(bench_id))` collapses to a
    * per-doc witness when a flag set is all the caller needs).
    *
    * Scale: the benchmark side is eval-suite-sized by definition → its
    * banded signatures broadcast; the corpus signs and bands MAP-ONLY
    * (native NgramHashes→MinHashLong kernels) and the broadcast hash join
    * filters band collisions map-side, so the only shuffle is the
    * per-doc min-agg over rows that actually collided. The corpus is
    * never self-joined, never re-read, never shuffled whole — the same
    * topology contract as [[contaminationReport]]. */
  def fuzzyContamination(corpus: DataFrame, textCol: String, idCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         benchIdCol: String,
                         numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.5): DataFrame = {
    val bench = broadcast(
      banded(benchmark, benchTextCol, benchIdCol, numHashes, bands,
          fanOut = false) // eval-suite-sized by contract — no fan-out
        .select(col("band"), col("key"),
          col("__id").as("bench_id"), col("__sig").as("sig_b")))
    banded(corpus, textCol, idCol, numHashes, bands)
      .select(col("band"), col("key"),
        col("__id").as("id"), col("__sig").as("sig_a"))
      .join(bench, Seq("band", "key"))
      .where(estJaccard(numHashes) >= threshold)
      .select("id", "bench_id")
      .dropDuplicates("id", "bench_id")
  }

  /** Seed the persisted CORPUS BAND INDEX for incremental decontamination
    * ([[fuzzyContaminationIncremental]]): one `(band, key, id)` row per
    * LSH band per doc (PK (band, key, id)), next to the per-doc signature
    * table [[seedMinhashSignatures]] maintains. Together they are the
    * reusable fuzzy-match index of the corpus — ~(bands·20 + hashes·8)
    * bytes/doc of state, built in ONE corpus pass, after which no
    * decontamination probe ever re-reads or re-signs the corpus. */
  def seedBandIndex(store: graft.store.TableStore, bandTable: String,
                    corpus: DataFrame, textCol: String, idCol: String,
                    numHashes: Int = 64, bands: Int = 16,
                    buckets: Int = 0): Unit = {
    val rows = banded(corpus, textCol, idCol, numHashes, bands)
      .select(col("band"), col("key"), col("__id").cast("long").as("id"))
    if (store.exists(bandTable)) store.upsert(bandTable, rows, Seq("band", "key", "id"))
    else store.overwrite(bandTable, rows,
      primaryKeys = Seq("band", "key", "id"), buckets = buckets)
  }

  /** INCREMENTAL fuzzy decontamination: probe a NEW benchmark / eval
    * suite against the persisted corpus band index + signature store —
    * the per-suite form of [[fuzzyContamination]] at corpus scale, where
    * re-signing 100 TB per arriving eval suite is exactly the cost to
    * avoid. Same edge-list output `(id, bench_id)`; result identical to
    * the one-shot form over the seeded corpus (spec-asserted).
    *
    * Topology: the benchmark signs MAP-ONLY (suite-sized, one pinned
    * materialization feeds both probe subtrees); its band keys broadcast
    * into a probe of the band-index scan (map-side filter); the hit set
    * (collision-sized) broadcasts into a probe of the signature scan;
    * est-Jaccard gates the fetched pairs. Every shuffle is bench- or
    * collision-sized; both corpus tables stream map-only and are never
    * re-derived. */
  def fuzzyContaminationIncremental(store: graft.store.TableStore,
                                    bandTable: String, sigTable: String,
                                    benchmark: DataFrame, benchTextCol: String,
                                    benchIdCol: String,
                                    numHashes: Int = 64, bands: Int = 16,
                                    threshold: Double = 0.5): DataFrame = {
    // sign the suite once; two broadcast consumers
    val benchBands = Pins.pin(banded(benchmark, benchTextCol, benchIdCol,
        numHashes, bands, fanOut = false) // probe-suite-sized by contract — no fan-out
      .select(col("band"), col("key"),
        col("__id").cast("long").as("bench_id"), col("__sig").as("sig_b")))
    val cand = store.read(bandTable)
      .join(broadcast(benchBands.select("band", "key", "bench_id")),
        Seq("band", "key"))
      .select(col("id"), col("bench_id"))
      .dropDuplicates("id", "bench_id")
    store.read(sigTable)
      .select(col("id"), col("sig").as("sig_a"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(benchBands.select(col("bench_id"), col("sig_b"))
        .dropDuplicates("bench_id")), Seq("bench_id"))
      .where(estJaccard(numHashes) >= threshold)
      .select("id", "bench_id")
  }

  // ------------------------------- incremental dedup (batch vs corpus store)

  /** Exact INCREMENTAL dedup: flag a NEW batch against a persisted
    * fingerprint store — the per-ingest form of [[exact]] at corpus scale,
    * where re-fingerprinting (or self-joining) 100 TB of already-ingested
    * corpus per arriving batch is exactly the cost to avoid. The store
    * table (`fp BIGINT, first_id BIGINT`, PK `fp`, optionally bucketed)
    * holds one row per distinct corpus fingerprint — ~16 bytes/doc, the
    * only corpus-derived state the batch path ever reads.
    *
    * Topology: the store side STREAMS map-only — the batch's distinct
    * fingerprints (batch-sized) broadcast into a left-semi probe of the
    * store scan; the hit set (≤ batch-sized) broadcasts back onto the
    * batch; within-batch first-id resolution is a batch-sized window. The
    * corpus is never shuffled and never re-hashed; survivors upsert
    * through the store's bucketed 1-Exchange merge. Every shuffle in the
    * plan is batch- or hit-sized (spec-asserted).
    *
    * Returns the batch plus `dup_of_corpus` (fingerprint already stored)
    * and `kept` (no corpus hit AND first id of its within-batch
    * fingerprint group). Kept rows' fingerprints register in the store, so
    * replaying a batch flags its previously-kept rows as corpus dups — the
    * store is the memory. A first call on a missing table seeds it (no
    * corpus hits, every group-first row registers). */
  def exactIncremental(store: graft.store.TableStore, sigTable: String,
                       batch: DataFrame, textCol: String, idCol: String,
                       buckets: Int = 0): DataFrame = {
    val fp = batch.withColumn("__fp", TextStats.fingerprint(col(textCol)))
    val batchFps = fp.select(col("__fp")).distinct()
    val hits =
      if (store.exists(sigTable))
        store.read(sigTable).select(col("fp").as("__fp"))
          .join(broadcast(batchFps), Seq("__fp"), "left_semi")
          .withColumn("__hit", lit(true))
      else batchFps.limit(0).withColumn("__hit", lit(true))
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    // ONE batch-sized materialization feeds both the store write and the
    // returned frame (CLAUDE.md invariant 7 shape — and the probe job
    // runs once, not once per downstream action)
    val flagged = Pins.pin(fp.join(broadcast(hits), Seq("__fp"), "left")
      .withColumn("dup_of_corpus", coalesce(col("__hit"), lit(false)))
      .withColumn("kept", !col("dup_of_corpus") && row_number().over(w) === 1))
    val survivors = flagged.where(col("kept"))
      .select(col("__fp").as("fp"), col(idCol).cast("long").as("first_id"))
    if (store.exists(sigTable)) store.upsert(sigTable, survivors, Seq("fp"))
    else store.overwrite(sigTable, survivors, primaryKeys = Seq("fp"), buckets = buckets)
    flagged.drop("__fp", "__hit")
  }

  /** Register every document's MinHash signature in the store WITHOUT any
    * dedup — the bulk corpus-onboarding step ahead of
    * [[minhashIncremental]] batches (and the re-seeding path after a
    * signature-parameter change). One signature row per doc, PK `id`. */
  def seedMinhashSignatures(store: graft.store.TableStore, sigTable: String,
                            corpus: DataFrame, textCol: String, idCol: String,
                            numHashes: Int = 64, buckets: Int = 0,
                            appendOnly: Boolean = false): Unit = {
    // corpus-seed path: fan the kernel stage out (see withSignature doc)
    val sigs = withSignature(corpus, textCol, numHashes, fanOutIdCol = Some(idCol))
      .select(col(idCol).cast("long").as("id"), col("__sig").as("sig"))
    putSeed(store, sigTable, sigs, buckets, appendOnly)
  }

  /** Shared seeder write: overwrite on first call; then FILE-LEVEL append
    * (O(batch) per call — the streaming-ingest economics, duplicate rows
    * tolerated by the probes) or PK upsert (idempotent, but a
    * corpus-sized snapshot rewrite per call — the r13 measured trap). */
  private[graft] def putSeed(store: graft.store.TableStore, table: String,
                             rows: DataFrame, buckets: Int,
                             appendOnly: Boolean): Unit = {
    require(!(appendOnly && buckets > 0),
      "appendOnly seeding needs plain snapshots (buckets = 0)")
    if (!store.exists(table))
      store.overwrite(table, rows, primaryKeys = Seq("id"), buckets = buckets)
    else if (appendOnly) store.appendFiles(table, rows)
    else store.upsert(table, rows, Seq("id"))
  }

  /** `fanOutIdCol`: corpus-SEED callers pass their id column so the
    * tokenize/ngram/minhash kernel stage fans out off the (often
    * single-split) scan before signing — the [[banded]] fan-out rationale
    * (guide §2.5); probe-batch callers leave it None and stay map-only
    * (the r15 q_decontam_inc lesson: fan-out on probe-sized frames is
    * pure overhead). */
  private[graft] def withSignature(df: DataFrame, textCol: String, numHashes: Int,
                                   fanOutIdCol: Option[String] = None): DataFrame = {
    fanOutIdCol.fold(df)(id => df.repartition(fanOutParts(df), col(id)))
      .withColumn("__tokens", tokensCol(col(textCol)))
      .withColumn("__gh", GraftFunctions.ngramHashes(col("__tokens"), 3))
      .withColumn("__sig", GraftFunctions.minhashLong(col("__gh"), numHashes))
      .drop("__tokens", "__gh")
  }

  /** One signature family as [[nearDupIncremental]] probes it — what the
    * minhash, simhash and embedding probes do NOT share:
    *  - `sig`: each signature column of the signed batch → its column in
    *    the stored table;
    *  - `keys` and `keyed`: the bucket key columns, and how rows in the
    *    stored schema `(id, sig…)` get them (an explode of band keys or
    *    simhash chunks; the stored cluster column as it is);
    *  - `similar`: the verify predicate over two sides' signature columns,
    *    looked up by stored name. */
  private[graft] final case class NearDupSig(
      sig: Seq[(String, String)], keys: Seq[String],
      keyed: DataFrame => DataFrame,
      similar: (String => Column, String => Column) => Column) {
    // the columns `similar` reads; a key column is compared by the join
    private val compared = sig.map(_._2).filterNot(keys.contains)

    /** Rows in the stored schema → `(<tag>_id, keys…, <col>_<tag>…)`. */
    def side(rows: DataFrame, tag: String): DataFrame =
      keyed(rows).select(col("id").as(s"${tag}_id") +:
        (keys.map(col) ++ compared.map(c => col(c).as(s"${c}_$tag"))): _*)

    /** Corpus-side candidate probe: stored rows stream MAP-ONLY — keyed
      * narrowly, joined against the probe side of the batch's keyed rows,
      * verified. Returns the hit `new_id`s PRE-distinct, so the
      * zero-Exchange property of the stored side is spec-assertable. */
    def corpusHits(stored: DataFrame, batchKeyed: DataFrame,
                   probeSide: DataFrame => DataFrame): DataFrame =
      side(stored, "old").join(probeSide(batchKeyed), keys)
        .where(similar(c => col(s"${c}_new"), c => col(s"${c}_old")))
        .select(col("new_id"))

    /** Within-batch near-dups: the LARGER id of each verified pair. */
    def batchDups(batchKeyed: DataFrame): DataFrame =
      Pairs.selfJoin(batchKeyed, keys, "new_id", compared.map(c => s"${c}_new" -> c))
        .where(similar(c => col(s"${c}_a"), c => col(s"${c}_b")))
        .select(col("id_b").as("new_id"))
  }

  /** The incremental near-dup probe behind [[minhashIncremental]],
    * [[simhashIncremental]] and [[graft.sim.Cluster.embeddingIncremental]]:
    * flag a new batch (`signed`: the batch plus its signature columns)
    * against the persisted per-doc signature table, each probe passing
    * only its [[NearDupSig]]. A batch doc is `dup_of_corpus` iff it shares
    * a bucket with a stored doc and `similar` holds; within the batch the
    * greedy smaller-id-wins rule of [[minhashLsh]] applies among
    * non-corpus-dup rows. Returns the batch plus `dup_of_corpus` and
    * `kept`.
    *
    * Scale: the batch is signed once and pinned — the corpus probe, the
    * batch self-join, the returned frame and the [[Pairs.probeSide]]
    * gate's count all read that one pass. Stored signatures (a small
    * fraction of corpus text bytes) stream MAP-ONLY through
    * [[NearDupSig.corpusHits]]: keying is narrow, the batch's keyed rows
    * are the broadcast (for corpus-sized batches, shuffle-hash) probe
    * side, and only qualifying hits reach a shuffle. The corpus is never
    * re-read, re-tokenized, re-signed, or shuffled; within-batch
    * resolution self-joins only the batch. Kept rows' signatures register
    * (PK id) through [[putSeed]] so the next batch sees them; an empty kept
    * set writes nothing. By default registration is a PK upsert, which
    * REWRITES the corpus-sized signature snapshot every call: fine for
    * occasional batch ingests, the measured r13 per-trigger trap for
    * streaming callers. Streaming callers pass `appendOnly = true` for
    * O(batch) file-level registration (appends do not dedup — the probe
    * tolerates duplicate signature rows) and a txn view as `store`, as
    * [[graft.streaming.Streaming.nearDupIngestGate]] does: a replayed
    * batch then probes the signatures as they were before it, and its
    * registration is a no-op. */
  private[graft] def nearDupIncremental(store: graft.store.TableStore,
                                        sigTable: String, signed: DataFrame,
                                        idCol: String, nd: NearDupSig,
                                        buckets: Int,
                                        appendOnly: Boolean): DataFrame = {
    val bsig = Pins.pin(signed)
    val probeSide = Pairs.probeSide(bsig)
    def storedSchema(df: DataFrame, id: Column): DataFrame =
      df.select(id.as("id") +: nd.sig.map { case (c, s) => col(c).as(s) }: _*)
    val batchKeyed = nd.side(storedSchema(bsig, col(idCol).cast("long")), "new")
    val corpusDupIds =
      if (store.exists(sigTable))
        nd.corpusHits(store.read(sigTable), batchKeyed, probeSide)
          .distinct().withColumn("__cd", lit(true))
      else batchKeyed.select(col("new_id")).limit(0).withColumn("__cd", lit(true))
    val batchDupIds = nd.batchDups(batchKeyed).distinct().withColumn("__bd", lit(true))
    // one materialization for store write + caller (inv. 7)
    val flagged = Pins.pin(bsig
      .withColumn("new_id", col(idCol).cast("long"))
      .join(probeSide(corpusDupIds), Seq("new_id"), "left")
      .join(probeSide(batchDupIds), Seq("new_id"), "left")
      .withColumn("dup_of_corpus", coalesce(col("__cd"), lit(false)))
      .withColumn("kept", !col("dup_of_corpus") && coalesce(col("__bd"), lit(false)) === false))
    val kept = storedSchema(flagged.where(col("kept")), col("new_id"))
    if (!kept.isEmpty) putSeed(store, sigTable, kept, buckets, appendOnly)
    flagged.drop("new_id" +: "__cd" +: "__bd" +: nd.sig.map(_._1): _*)
  }

  /** [[minhashIncremental]]'s signature: the `sig` array, keyed by its LSH
    * band keys, verified by the signature-estimated Jaccard. */
  private[graft] def minhashSig(numHashes: Int, bands: Int,
                                threshold: Double): NearDupSig =
    NearDupSig(Seq("__sig" -> "sig"), Seq("band", "key"),
      rows => rows
        .select(col("id"), col("sig"),
          explode(bandKeys(col("sig"), bands, numHashes / bands)).as("__b"))
        .select(col("id"), col("sig"), col("__b.band").as("band"), col("__b.key").as("key")),
      (x, y) => GraftFunctions.eqPositions(x("sig"), y("sig"))
        .cast("double") / lit(numHashes) >= threshold)

  /** MinHash INCREMENTAL near-dedup: flag a new batch against the persisted
    * per-doc signature store ([[seedMinhashSignatures]]) — the ingest-time
    * form of [[minhashLsh]]. Same decision rule at the batch boundary: a
    * batch doc is a corpus dup iff it shares an LSH band with a stored doc
    * AND the signature-estimated Jaccard meets `threshold`; within the
    * batch the greedy smaller-id-wins rule of [[minhashLsh]] applies among
    * non-corpus-dup rows. Stored signatures are ~8·numHashes bytes/doc,
    * ~1/1000 of corpus text bytes. Topology, registration and the
    * streaming contract: [[nearDupIncremental]].
    *
    * Returns the batch plus `dup_of_corpus` and `kept`. */
  def minhashIncremental(store: graft.store.TableStore, sigTable: String,
                         batch: DataFrame, textCol: String, idCol: String,
                         numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.8, buckets: Int = 0,
                         appendOnly: Boolean = false): DataFrame =
    nearDupIncremental(store, sigTable, withSignature(batch, textCol, numHashes),
      idCol, minhashSig(numHashes, bands, threshold), buckets, appendOnly)

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash from a materialized token-hash array: per bit, sum ±1 by
    * hash bit, sign → bit. One nested `aggregate` over the 64 bit positions;
    * the size-guard doubles as the second reference keeping the hash array
    * materialized (class doc). */
  def simhashFromHashes(hashes: Column): Column =
    when(size(hashes) > 0,
      aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, i) => {
        val bitSum = aggregate(hashes, lit(0),
          (s, h) => s + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
        acc + when(bitSum > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))
      })).otherwise(lit(0L))

  /** Convenience column form (tokenizes inline — fine for one-off use). */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(tokensCol(text, keepAccents = false), t => xxhash64(t)))

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exploded (chunk, key) pigeonhole buckets of a 64-bit simhash under
    * `maxHamming`: d+1 chunks, so any pair within Hamming distance d
    * shares at least one EQUAL chunk — recall-complete candidate keys
    * (Manku WWW'07), shared by [[simhashPairs]] and
    * [[simhashIncremental]]. */
  private def simhashChunks(sh: Column, maxHamming: Int): Column = {
    require(maxHamming >= 0 && maxHamming < 16,
      s"maxHamming=$maxHamming out of range: chunk keys would be under 4 bits")
    val chunks = maxHamming + 1
    val base = 64 / chunks
    val widths = (0 until chunks).map(c => if (c < 64 % chunks) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    explode(array((0 until chunks).map { c =>
      // width 64 (maxHamming=0, exact-hash grouping): JVM shifts are
      // mod 64, so (1L<<64)-1 would be 0 — mask with all-ones instead
      val mask = if (widths(c) >= 64) -1L else (1L << widths(c)) - 1
      struct(lit(c).as("chunk"),
        shiftright(sh, offsets(c)).bitwiseAND(lit(mask)).as("key"))
    }: _*))
  }

  /** SimHash near-dup pairs: bucket by `maxHamming + 1` bit chunks — a doc
    * pair within Hamming distance d differs in at most d chunks, so with
    * d+1 chunks at least one chunk is EQUAL (pigeonhole) and candidate
    * generation is recall-complete, not probabilistic. The default d=3
    * gives the classic 4 × 16-bit layout (Manku et al., WWW'07 §3); larger
    * d narrows the chunk keys (64/(d+1) bits), growing bucket occupancy —
    * the inherent simhash trade-off, so keep d small at corpus scale.
    * Full distance is verified within buckets only. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // fan the kernel off the scan (see banded)
    val withSh = df.repartition(fanOutParts(df), col(idCol))
      .withColumn("__sh",
        GraftFunctions.simhash(tokensCol(col(textCol), keepAccents = false)))
      .select(col(idCol).as("__id"), col("__sh"))
    val chunked = withSh.select(col("__id"), col("__sh"),
      simhashChunks(col("__sh"), maxHamming).as("__c"))
      .select(col("__id"), col("__sh"), col("__c.chunk"), col("__c.key"))
    Pairs.selfJoin(chunked, Seq("chunk", "key"), "__id", Seq("__sh" -> "sh"))
      .select(col("id_a"), col("id_b"), hammingDist(col("sh_a"), col("sh_b")).as("hamming"))
      // filter before the pair-dedup (hamming is pair-pure; see minhashPairs)
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Register every document's 64-bit SimHash in the store — the bulk
    * corpus-onboarding step ahead of [[simhashIncremental]] batches
    * (8 bytes/doc of state, one corpus pass; the simhash sibling of
    * [[seedMinhashSignatures]]). One row per doc, PK `id`. */
  def seedSimhashes(store: graft.store.TableStore, shTable: String,
                    corpus: DataFrame, textCol: String, idCol: String,
                    buckets: Int = 0, appendOnly: Boolean = false): Unit = {
    // corpus-seed path: fan the simhash kernel off the (often
    // single-split) scan — the withSignature fan-out rationale (r16)
    val rows = corpus.repartition(fanOutParts(corpus), col(idCol))
      .select(col(idCol).cast("long").as("id"),
        GraftFunctions.simhash(tokensCol(col(textCol), keepAccents = false)).as("sh"))
    putSeed(store, shTable, rows, buckets, appendOnly)
  }

  /** SimHash INCREMENTAL near-dedup: flag a new batch against the
    * persisted per-doc simhash store ([[seedSimhashes]]) — the
    * ingest-time form of [[simhashPairs]], completing the incremental
    * dedup family (exact / minhash / containment / simhash). Unlike the
    * minhash form its candidate stage is RECALL-COMPLETE, not
    * probabilistic: d+1 pigeonhole chunks guarantee any within-radius
    * pair shares an equal chunk key, so a batch doc is flagged
    * `dup_of_corpus` iff a stored doc is truly within `maxHamming`;
    * within the batch the greedy smaller-id-wins rule applies among
    * non-corpus-dup rows. Stored simhashes are 8 bytes/doc (~1/10⁵ of
    * corpus text bytes) and the chunk explode is narrow (d+1 rows per
    * stored doc). Topology, registration and the streaming contract:
    * [[nearDupIncremental]].
    *
    * Returns the batch plus `dup_of_corpus` and `kept`. */
  def simhashIncremental(store: graft.store.TableStore, shTable: String,
                         batch: DataFrame, textCol: String, idCol: String,
                         maxHamming: Int = 3, buckets: Int = 0,
                         appendOnly: Boolean = false): DataFrame =
    nearDupIncremental(store, shTable,
      batch.withColumn("__sh",
        GraftFunctions.simhash(tokensCol(col(textCol), keepAccents = false))),
      idCol,
      NearDupSig(Seq("__sh" -> "sh"), Seq("chunk", "key"),
        rows => rows
          .select(col("id"), col("sh"), simhashChunks(col("sh"), maxHamming).as("__c"))
          .select(col("id"), col("sh"), col("__c.chunk").as("chunk"), col("__c.key").as("key")),
        (x, y) => hammingDist(x("sh"), y("sh")) <= maxHamming),
      buckets, appendOnly)

  // ----------------------------------------------------- n-gram jaccard

  /** Fail-fast candidate-volume guard for the EXACT all-pairs generators
    * ([[ngramJaccardPairs]], [[containmentPairs]]): predict the worst-case
    * candidate volume `Σ df²` from the gram document-frequency table (the
    * upper bound on every gram-keyed bucket self-join — the quantity that
    * went quadratic in the r9 hash-order measurement) and THROW when it
    * exceeds `maxCandidatesPerPosting × Σ df`. The budget is per-posting,
    * i.e. scale-FREE: a corpus 10× bigger earns a 10× larger absolute
    * budget, so linear-scaling corpora never trip while gram-saturated
    * ones (where Σdf²/postings grows with corpus size — measured on the
    * synthetic docs: 2.1 at sf0.01, 10.7 at sf0.1, ~10× per decade) fail
    * BEFORE shuffling instead of thrashing disk at scale (the r10 sf10
    * attempt spilled 70 GB before being cut).
    *
    * The prediction is conservative for [[ngramJaccardPairs]] (prefix
    * filtering joins only each doc's rarest grams, a small subset of the
    * postings Σ df² counts) — a corpus that trips the guard may still be
    * feasible; raise `maxCandidatesPerPosting` to override, or set it
    * ≤ 0 to disable the check entirely. The guard costs one extra
    * aggregation job over the gram stream (wordcount-shaped, collected as
    * ONE row — an AQE-style runtime-statistics decision, not data on the
    * driver). */
  private def guardCandidateVolume(dfTab: DataFrame, perPosting: Long,
                                   caller: String): Unit = {
    if (perPosting <= 0) return
    val row = dfTab.agg(
      sum(col("__df")).cast("double").as("postings"),
      // df² through DOUBLE: the guard needs magnitude, not exactness, and
      // long df² overflows (ANSI-errors) past df ≈ 3·10⁹
      sum(col("__df").cast("double") * col("__df")).as("sum_df2")).head()
    if (row.isNullAt(0)) return // empty corpus — nothing to guard
    val postings = row.getDouble(0)
    val sumDf2 = row.getDouble(1)
    require(sumDf2 <= perPosting.toDouble * postings,
      f"$caller: predicted candidate volume Σdf² = $sumDf2%.3g exceeds " +
        f"$perPosting × postings ($postings%.3g) — this corpus is gram-" +
        "saturated and the exact all-pairs join would go quadratic at " +
        "scale. Use the banded production paths (minhashVerifiedPairs / " +
        "containmentVerifiedPairs, linear by construction) and keep the " +
        "exact form for verifier-grade spot checks; to proceed anyway, " +
        "raise maxCandidatesPerPosting (or set it <= 0 to disable).")
  }

  /** ALL pairs with exact n-gram Jaccard ≥ `threshold` — candidate
    * generation by PREFIX FILTERING (Bayardo/Ma/Srikant, "Scaling Up All
    * Pairs Similarity Search", WWW'07; Chaudhuri et al. SSJoin): under ONE
    * global total order on grams, any pair with J ≥ t must share at least
    * one element of each other's first `|G| − ⌈t·|G|⌉ + 1` elements, so
    * joining on exploded prefix grams is recall-COMPLETE, not a lossy
    * heuristic block.
    *
    * The global order is ASCENDING DOCUMENT FREQUENCY (ties by hash) — the
    * canonical ordering of the prefix-filter literature, and the load-
    * bearing choice at scale: each doc's prefix is then its RAREST grams,
    * so a candidate bucket's size is bounded by that gram's df. The r9
    * sf0.1→sf1 measurement is the cautionary tale: under an arbitrary
    * (hash-value) order, common grams land in prefixes and the bucket
    * self-join went quadratic — 3.0 s → 400 s for a 10× corpus (exponent
    * 2.1); df-ordered prefixes restore the near-linear profile. The df
    * table is ONE extra gram-keyed aggregation + join over the exploded
    * gram stream (linear, wordcount-shaped), plus one id-keyed window to
    * take each doc's rarest-prefix slice.
    *
    * Topology (100 TB path): one kernel pass emits the distinct gram
    * hashes; candidates join on (prefix gram, id, sz) SCALARS; the size
    * filter t·max ≤ min prunes pairs before the distinct; only surviving
    * candidate pairs fetch the two gram arrays back by id (pre-aliased
    * repartition on id → ONE reused array Exchange for both sides). Gram
    * arrays are never replicated through the prefix explode. Returns
    * (id_a, id_b, jaccard).
    *
    * GUARDRAIL: even rare-first prefixes stay data-bound ~quadratic on
    * gram-SATURATED corpora (closed vocabulary at growing size — the
    * r9/r10 measurements). [[guardCandidateVolume]] fails fast before any
    * shuffle when predicted Σdf² exceeds `maxCandidatesPerPosting ×
    * postings`, pointing at [[minhashVerifiedPairs]] (the banded
    * production primary); this op's role at scale is verifier-grade spot
    * checks on bounded slices. Raise the budget (or ≤ 0) to override.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxCandidatesPerPosting: Long = 64): DataFrame = {
    // ONE kernel pass, fanned out and materialized ([[preppedKernelFrame]]):
    // the id repartition lifts tokenize+ngram off the scan (single-row-group
    // inputs would serialize them — see banded), and the eager
    // localCheckpoint runs the kernels ONCE so the df-table, prefix and
    // verify subtrees read the compact (id, grams) table instead of
    // re-tokenizing per subtree (measured r15 at sf0.1: 4 single-threaded
    // kernel passes — guard histogram + grams + dfTab + arrays — were
    // ~4.0 s of this entry's 4.3 s; post-change one parallel pass). The
    // materialization is O(corpus grams) — the same rows the arrays
    // exchange already shuffles — and recomputes per call (no cross-run
    // state).
    val prepped = preppedKernelFrame(df, textCol, idCol, n)
    // (id, sz, gram) scalar stream; NgramHashes output is distinct per doc,
    // so count(*) per gram IS the document frequency
    val grams = prepped
      .select(col("__id"), size(col("__gh")).as("__sz"),
        explode(col("__gh")).as("__key"))
    val dfTab = grams.groupBy("__key").agg(count(lit(1)).as("__df"))
    guardCandidateVolume(dfTab, maxCandidatesPerPosting, "ngramJaccardPairs")
    // the 1e-9 slack keeps exact-boundary sizes on the safe side of
    // ceil when threshold·sz overshoots its decimal value in binary
    // (e.g. 0.55·20 = 11.000000000000002 would ceil to 12 and shave
    // one element off the safe prefix)
    val prefixLen = greatest(
      col("__sz") - ceil(lit(threshold) * col("__sz") - 1e-9).cast("int") + 1,
      lit(1))
    val rankW = Window.partitionBy(col("__id")).orderBy(col("__df"), col("__key"))
    val keys = grams.join(dfTab, Seq("__key"))
      .withColumn("__rn", row_number().over(rankW))
      .where(col("__rn") <= prefixLen)
      .select(col("__key"), col("__id"), col("__sz"))
    val cand = Pairs.selfJoin(keys, Seq("__key"), "__id", Seq("__sz" -> "sz"))
      // size filter: J ≥ t ⟹ t·max(|A|,|B|) ≤ min(|A|,|B|); the 1e-9
      // slack keeps exact-boundary pairs (binary overshoot of t·sz)
      .where(col("sz_a") * threshold <= col("sz_b") + 1e-9 &&
        col("sz_b") * threshold <= col("sz_a") + 1e-9)
      .select("id_a", "id_b").distinct()
    verifiedJaccard(cand, prepped, threshold)
  }

  /** Exact verification of candidate pairs over a prepped `(__id, __gh)`
    * frame: gram arrays fetched for the candidates only, sorted-merge
    * Jaccard in 4-dp fixed point (tie-free across engines; see
    * Queries.detRound4), gated at `threshold` → `(id_a, id_b, jaccard)`. */
  private def verifiedJaccard(cand: DataFrame, prepped: DataFrame,
                              threshold: Double): DataFrame =
    Pairs.withArrays(cand, prepped, "__id", "__gh")
      .withColumn("jaccard",
        floor(GraftFunctions.jaccardSorted(col("g_a"), col("g_b")) * 10000.0 + 0.5)
          / 10000.0)
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Gate `pairs` on the containment `|A∩B| / |A|` of gram array `a` in
    * `b` and add it as `containment`. The gate reads the UNROUNDED ratio:
    * int/int division is correctly rounded in IEEE, so the comparison
    * replays bit-exactly in any engine, and it is exactly the predicate
    * the prefix/size filters are recall-complete for (a rounded gate would
    * admit true containment down to t − 5e-5 — below the filters'
    * guarantee, a divergence reachable at ≥20k grams/doc). The 4-dp
    * rounding is presentation only, applied after the gate. */
  private def verifiedContainment(pairs: DataFrame, a: String, b: String,
                                  threshold: Double): DataFrame =
    pairs
      .withColumn("__c",
        GraftFunctions.sortedIntersect(col(a), col(b)).cast("double") / size(col(a)))
      .where(col("__c") >= threshold)
      .withColumn("containment", floor(col("__c") * 10000.0 + 0.5) / 10000.0)

  /** Asymmetric n-gram CONTAINMENT pairs: ordered pairs `(a, b)`, a ≠ b,
    * with `C(A→B) = |A ∩ B| / |A| ≥ threshold` over word n-gram sets —
    * the subset/quotation detector symmetric Jaccard misses (a 30-word
    * quote inside a 3000-word page has Jaccard ≈ 0.01 but containment
    * 1.0). The standard third member of the set-similarity family next to
    * [[ngramJaccardPairs]]; cf. Broder's containment measure ("On the
    * resemblance and containment of documents", SEQUENCES 1997).
    *
    * Candidate generation is PPJoin-style asymmetric prefix filtering
    * (Xiao et al., WWW 2008, adapted to containment): only the PROBE side
    * (A) prefixes — `p = |A| − ⌈t·|A|⌉ + 1` grams per doc — because
    * containment puts no lower bound on B's share of its own grams, so
    * the index side must post ALL grams (the inverted-index cost, linear
    * in corpus grams). Prefix grams are each doc's RAREST under the
    * ascending-document-frequency global order (CLAUDE.md invariant 9 —
    * hash-order prefixes go quadratic on hot grams); recall is complete:
    * if no prefix gram of A hits B then `|A∩B| ≤ |A| − p < ⌈t·|A|⌉`.
    * The one size filter containment admits: `|A∩B| ≤ |B|` ⟹
    * `|B| ≥ t·|A|`. Exact verification is the native sorted-merge
    * intersection kernel ([[graft.functions.SortedIntersect]]) on the
    * candidate set only, 4-dp fixed-point rounded (tie-free across
    * engines).
    *
    * Scale: probe side carries O(docs · p) rows, index side O(total
    * grams) — both shuffle once on the gram key; verification joins gram
    * arrays for surviving candidates only. A hot gram inflates only the
    * postings it actually matches (bounded by the rare-first prefix
    * choice), never an all-pairs product.
    *
    * GUARDRAIL: the index side posts ALL grams, so on gram-saturated
    * corpora candidate volume is data-bound ~quadratic regardless of the
    * prefix choice (r9/r10). [[guardCandidateVolume]] fails fast before
    * any shuffle when predicted Σdf² exceeds `maxCandidatesPerPosting ×
    * postings`, pointing at [[containmentVerifiedPairs]] (the winnowed
    * production primary). Raise the budget (or ≤ 0) to override. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxCandidatesPerPosting: Long = 64): DataFrame = {
    // one fanned-out kernel pass, materialized (see ngramJaccardPairs)
    val prepped = preppedKernelFrame(df, textCol, idCol, n)
    val grams = prepped
      .select(col("__id"), size(col("__gh")).as("__sz"),
        explode(col("__gh")).as("__key"))
    val dfTab = grams.groupBy("__key").agg(count(lit(1)).as("__df"))
    guardCandidateVolume(dfTab, maxCandidatesPerPosting, "containmentPairs")
    // 1e-9 slack: binary overshoot of t·sz must not ceil past the exact
    // decimal value and shave an element off the safe prefix
    val prefixLen = greatest(
      col("__sz") - ceil(lit(threshold) * col("__sz") - 1e-9).cast("int") + 1,
      lit(1))
    val rankW = Window.partitionBy(col("__id")).orderBy(col("__df"), col("__key"))
    val probe = grams.join(dfTab, Seq("__key"))
      .withColumn("__rn", row_number().over(rankW))
      .where(col("__rn") <= prefixLen)
    // probe prefixes against the index of ALL grams, both directions
    val cand = Pairs.bucketJoin(probe, grams, Seq("__key"), "__id",
        Seq("__sz" -> "sz"), ordered = true)
      .where(col("sz_b") >= col("sz_a") * threshold - 1e-9)
      .select("id_a", "id_b").distinct()
    verifiedContainment(Pairs.withArrays(cand, prepped, "__id", "__gh"),
        "g_a", "g_b", threshold)
      .select("id_a", "id_b", "containment")
  }

  /** PRODUCTION containment-pair path: WINNOWED-fingerprint candidates →
    * exact sorted-merge verification — the asymmetric mirror of
    * [[minhashVerifiedPairs]] (banding proposes, the kernel verifies),
    * replacing [[containmentPairs]]' recall-complete prefix filter whose
    * candidate volume is data-bound ~quadratic on gram-saturated corpora
    * (r9/r10 analysis; the exact form stays as the verifier-grade
    * reference).
    *
    * Candidates: each doc posts its [[graft.functions.WinnowHashes]]
    * fingerprints (~`2/(w+1)` of its grams); two docs are candidates iff
    * they share a fingerprint whose document frequency is ≤ `dfCap`.
    * Recall contract: any contiguous shared run of ≥ `w + n − 1` tokens
    * shares a fingerprint (the winnowing guarantee) — quotation/subset
    * containment, the workload this op exists for, is exactly that case;
    * scattered overlap is probabilistic in the shared mass (the same
    * trade [[minhashVerifiedPairs]] makes via banding). The df cap bounds
    * bucket occupancy BY CONSTRUCTION (CLAUDE.md invariant 9: candidate
    * joins must not let hot keys go quadratic): a fingerprint shared by
    * more than the cap docs is boilerplate — dropping it loses only
    * pairs whose EVERY shared window is that common. MEASURED at sf1
    * (`datagen.RecallMeasure`, BASELINE.md r13 recall table): the cap
    * costs ~4% of planted contiguous quotes on the closed-vocabulary
    * corpus — each missed quote's single fingerprint is shared by
    * 238–757 docs — so the guarantee is "deterministic MODULO the df
    * cap"; scattered sub-guarantee chunks recall 0.935, organic pairs
    * 0.988. Recall-complete alternatives when exactness matters:
    * [[containmentPairs]] (budget-guarded) or the persisted
    * [[containmentIncremental]] index.
    *
    * The cap is ADAPTIVE, not a constant: on a gram-saturated corpus
    * every fingerprint's df grows linearly with corpus size (measured at
    * sf1: 50k docs → only 14,437 distinct fingerprints over 533k
    * postings; a flat cap of 4096 admitted 247M candidate pairs), so any
    * fixed cutoff is either too lossy small or quadratic-at-scale big.
    * Instead the df histogram (one tiny aggregate over the vocab-sized
    * dfTab, collected — this is an AQE-style runtime statistics decision,
    * not data on the driver) picks the LARGEST df whose cumulative
    * candidate volume `Σ df²·keys` fits `max(candidateBudgetPerPosting ×
    * postings, 2M)` — candidate volume is thereby O(postings) = linear in
    * corpus size by construction, and small corpora (where even full
    * recall is cheap) keep every fingerprint. `dfCap` remains the hard
    * ceiling above which a fingerprint is boilerplate regardless of
    * budget headroom.
    *
    * Verification is identical to [[containmentPairs]]: exact
    * `|A∩B| / |A|` via the native sorted-intersect on the full gram
    * arrays of surviving candidates, gated unrounded, 4-dp fixed-point
    * presented. Scale: postings on keys with 2 ≤ df ≤ cap either carry
    * their doc's gram array through the ONE fingerprint-keyed shuffle
    * (pre-aliased repartition → reused Exchange), candidates verifying in
    * the bucket join's condition and only verified pairs shuffling again
    * (to dedup pairs sharing several fingerprints), or carry sizes only
    * and the distinct candidates fetch arrays by id. A doc carries |G|
    * longs per kept posting, up to ~2|G|²/(w+1) when every fingerprint is
    * shared (a long near-duplicate page), so the df aggregate also sums
    * each key's array longs and the collected histogram picks: carry only
    * while that ships no more than every doc's array once plus two ids
    * per candidate. Short docs and unique long pages carry; long
    * near-duplicate pages fetch. */
  def containmentVerifiedPairs(df: DataFrame, textCol: String, idCol: String,
                               n: Int = 3, w: Int = 8,
                               threshold: Double = 0.8,
                               dfCap: Long = 4096,
                               candidateBudgetPerPosting: Long = 8,
                               minCandidateBudget: Long = 2000000L): DataFrame = {
    // one fanned-out kernel pass, materialized (see ngramJaccardPairs):
    // the adaptive-cap histogram collect, the fp-posting subtrees and any
    // by-id array fetch all read the checkpointed table
    containmentVerifiedPairsFromPrepped(
      preppedKernelFrame(df, textCol, idCol, n, w), threshold, dfCap,
      candidateBudgetPerPosting, minCandidateBudget)
  }

  /** [[containmentVerifiedPairs]] over an ALREADY-MATERIALIZED
    * `(__id, __gh, __fp)` kernel frame — the sharing point for callers
    * that run several banded generators on one corpus (see
    * [[minhashVerifiedPairsFromPrepped]]). `prepped` must be pinned
    * (localCheckpoint) by the caller. */
  private[graft] def containmentVerifiedPairsFromPrepped(
      prepped: DataFrame, threshold: Double,
      dfCap: Long = 4096, candidateBudgetPerPosting: Long = 8,
      minCandidateBudget: Long = 2000000L): DataFrame = {
    requirePrepped(prepped, "__id", "__gh", "__fp")
    val fps = prepped
      .select(col("__id"), size(col("__gh")).as("__sz"), col("__gh"),
        posexplode(col("__fp")).as(Seq("__pos", "__key")))
    // per key: its df and the array longs its postings would carry; a
    // doc's first posting also counts its array once (the by-id fetch)
    val dfTab = fps.groupBy("__key").agg(count(lit(1)).as("__df"),
      sum(col("__sz")).as("__gs"), sum(when(col("__pos") === 0, col("__sz"))).as("__g1"))
    // Adaptive cap from the df histogram (rows = distinct df VALUES —
    // O(√postings), trivially collectable); see Scaladoc.
    val hist = dfTab.groupBy("__df").agg(count(lit(1)), sum("__gs"), coalesce(sum("__g1"), lit(0L)))
      .orderBy("__df").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val postings = hist.iterator.map { case (d, k, _, _) => d * k }.sum
    val budget = math.max(candidateBudgetPerPosting * postings, minCandidateBudget)
    var cum = 0L
    var effCap = if (hist.nonEmpty) hist.head._1 else 1L // rarest df always posts
    hist.foreach { case (d, k, _, _) =>
      cum += d * d * k
      if (cum <= budget && d <= dfCap) effCap = math.max(effCap, d)
    }
    val capped = math.min(effCap, dfCap)
    // a key posted once pairs with nothing: its posting would carry an
    // array into the bucket for no candidate
    val kept = hist.toSeq.collect { case (d, k, g, _) if d >= 2 && d <= capped => (d, k, g) }
    // the kept postings, as a semi-join: the postings always stream and the
    // keys build. Broadcast only a bounded key set, counted from the
    // already-collected histogram (no extra job): an unconditional
    // broadcast collects the keys to the driver first (the Pairs.probeSide
    // failure mode, r13 advice); above the gate, shuffle-hash (invariant
    // 13: the postings, arrays and all, are never sorted). The array longs
    // the postings side would ship if it carried arrays are the kept keys'
    // own, or above the gate every posting's, since the shuffle then
    // streams all of them
    val keys = dfTab.where(col("__df") >= 2 && col("__df") <= capped).select("__key")
    val small = kept.map(_._2).sum <= MaxBroadcastKeys
    val keepBase = fps.join(if (small) broadcast(keys) else keys.hint("shuffle_hash"),
      Seq("__key"), "left_semi")
    val keptGs = if (small) kept.map(_._3).sum else hist.map(_._3).sum
    // carry arrays into the bucket only while that ships no more than the
    // by-id fetch: every doc's array once plus each candidate's two ids
    val carry =
      keptGs <= hist.map(_._4).sum + kept.map { case (d, k, _) => 2 * k * d * (d - 1) }.sum
    val cand = Pairs.selfJoin(keepBase, Seq("__key"), "__id",
        ("__sz" -> "sz") +: (if (carry) Seq("__gh" -> "g") else Nil), ordered = true)
      // containment admits one size filter: |A∩B| ≤ |B| ⟹ |B| ≥ t·|A|
      .where(col("sz_b") >= col("sz_a") * threshold - 1e-9)
    // carried: the size filter and the unrounded gate both land in the
    // join condition, and a pair sharing several buckets dedups once
    // verified; else candidates dedup before the fetch
    val pairs = verifiedContainment(if (carry) cand else Pairs.withArrays(
      cand.select("id_a", "id_b").distinct(), prepped, "__id", "__gh"), "g_a", "g_b", threshold)
      .select("id_a", "id_b", "containment")
    if (carry) pairs.distinct() else pairs
  }

  /** MEASURED recall of the two banded production candidate generators
    * against their exact recall-complete references — the number an
    * adopter of the "banded primary" story asks for, as data instead of
    * an analytic claim. One row per method:
    * `(method, n_exact, n_banded, n_hit, recall_x10000)` where
    *  - `minhash_banding`: [[minhashVerifiedPairs]] vs
    *    [[ngramJaccardPairs]] at `jaccardThreshold`,
    *  - `containment_winnow`: [[containmentVerifiedPairs]] vs
    *    [[containmentPairs]] at `containThreshold`.
    * Both banded paths verify with the IDENTICAL exact rounded gate as
    * their references, so banded ⊆ exact and recall = n_hit / n_exact
    * (`n_banded > n_hit` would expose a gate divergence — kept visible).
    * `recall_x10000` is integer fixed point (non-negative operands,
    * plain div; empty exact set reports 10000 — nothing to miss).
    *
    * Scale: this HARNESS runs the exact references by design — it is the
    * verifier-grade measurement leg, subject to the same
    * [[guardCandidateVolume]] budget (pass `maxCandidatesPerPosting ≤ 0`
    * for a deliberate corpus-scale measurement run on a sampled slice);
    * the tally itself is one pair-keyed aggregation over the two pair
    * sets. */
  def recallReport(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, jaccardThreshold: Double = 0.9,
                   containThreshold: Double = 0.9,
                   numHashes: Int = 64, bands: Int = 16, w: Int = 8,
                   maxCandidatesPerPosting: Long = 64): DataFrame =
    recallReportFromPairs(
      containmentPairs(df, textCol, idCol, n, containThreshold,
        maxCandidatesPerPosting),
      containmentVerifiedPairs(df, textCol, idCol, n, w, containThreshold),
      ngramJaccardPairs(df, textCol, idCol, n, jaccardThreshold,
        maxCandidatesPerPosting),
      minhashVerifiedPairs(df, textCol, idCol, numHashes, bands, n,
        jaccardThreshold))

  /** [[recallReport]] over ALREADY-MATERIALIZED pair lists — the
    * production shape (and the [[thresholdCurveFromPairs]] pattern): the
    * exact reference legs are the expensive artifacts, staged once and
    * reusable across report runs, so a timed consumer measures the tally
    * (and the banded legs it still owns), not the verifier-grade exact
    * generators (r13 verdict bench-hygiene note: the exact legs were 8.75
    * of the entry's 9 s). */
  def recallReportFromPairs(exactContain: DataFrame, bandedContain: DataFrame,
                            exactJaccard: DataFrame,
                            bandedJaccard: DataFrame): DataFrame = {
    def tally(method: String, exact: DataFrame, bandedPairs: DataFrame): DataFrame =
      exact.select(col("id_a"), col("id_b"), lit(1L).as("__w"))
        .unionByName(bandedPairs.select(col("id_a"), col("id_b"), lit(2L).as("__w")))
        .groupBy("id_a", "id_b").agg(sum("__w").as("__s"))
        .agg(count(when(col("__s") =!= 2, 1)).as("n_exact"),
          count(when(col("__s") =!= 1, 1)).as("n_banded"),
          count(when(col("__s") === 3, 1)).as("n_hit"))
        .select(lit(method).as("method"), col("n_exact"), col("n_banded"),
          col("n_hit"),
          when(col("n_exact") === 0, lit(10000L))
            .otherwise(expr("(n_hit * 10000) div n_exact")).as("recall_x10000"))
    tally("containment_winnow", exactContain, bandedContain)
      .unionByName(tally("minhash_banding", exactJaccard, bandedJaccard))
  }

  /** Seed the persisted CONTAINMENT index for
    * [[containmentIncremental]]: three corpus-derived tables —
    * `postingsTable (gram, id, sz)` (PK (gram, id); the inverted index,
    * bucketed by gram so probes are partition-prunable),
    * `dfTable (gram, df)` (vocab-sized; the global rare-first prefix
    * order without touching the postings), and
    * `gramsTable (id, grams, sz)` (PK id; the sorted gram arrays exact
    * verification reads). Each call ADDS a batch to the index: postings
    * and gram arrays upsert by PK (idempotent per doc), df DELTA-MERGES
    * by summing (see below — PK replace would void the rare-first scale
    * contract). Seed each document once; re-seeding the same documents
    * inflates df, which skews only the prefix ORDER (performance), never
    * recall or results.
    *
    * `appendOnly = true` switches postings/grams to FILE-LEVEL appends
    * ([[graft.store.TableStore.appendFiles]]) — O(batch) written per
    * seed instead of a corpus-sized snapshot rewrite, the per-trigger
    * economics a streaming ingest needs (measured r13: index-sized →
    * batch-sized per trigger at sf1). The trade: appends do not dedup,
    * so seeding the same documents twice duplicates their postings and
    * gram arrays. [[containmentIncremental]] is duplicate-tolerant by
    * construction (candidates distinct on (probe_id, id); the verify
    * slice dedups gram rows per id). A streaming caller seeds through a
    * txn view ([[graft.store.TableStore.txn]]), so a replayed batch's
    * appends and df merge are no-ops (see
    * [[graft.streaming.Streaming.containmentIngestGate]]). */
  def seedGramIndex(store: graft.store.TableStore, postingsTable: String,
                    dfTable: String, gramsTable: String,
                    corpus: DataFrame, textCol: String, idCol: String,
                    n: Int = 3, buckets: Int = 0,
                    appendOnly: Boolean = false): Unit = {
    // one fanned-out kernel pass (see seedContainmentTables): the
    // repartition lifts tokenize+ngram off the (often single-split) scan
    val prepped = corpus.repartition(fanOutParts(corpus), col(idCol))
      .withColumn("__tokens", tokensCol(col(textCol)))
      .select(col(idCol).cast("long").as("id"),
        GraftFunctions.ngramHashes(col("__tokens"), n).as("grams"))
      .withColumn("sz", size(col("grams")))
    seedContainmentTables(store, postingsTable, dfTable, gramsTable,
      prepped, keysCol = "grams", "gram", buckets, appendOnly)
  }

  /** Seed the persisted WINNOWED containment index for
    * [[containmentIncrementalBanded]]: the banded sibling of
    * [[seedGramIndex]] for gram-saturated corpora where the
    * recall-complete gram index's probe volume grows with corpus df
    * (the r13 sf10 measurement: ~200 candidates/posting, guard-refused).
    * Three tables: `fpTable (fp, id, sz)` — one posting per WINNOW
    * fingerprint per doc, ~2/(w+1) of the gram postings; `dfTable
    * (fp, df)` — fingerprint document frequency, DELTA-MERGED by sum
    * (PK-replace would reset corpus df to batch df and void the df-cap
    * contract, CLAUDE.md invariant 10d); and the same `gramsTable
    * (id, grams, sz)` verification arrays as the exact index. The `fp`
    * key column is deliberately NOT named `gram`: probing a winnow index
    * with [[containmentIncremental]] (or vice versa) fails fast on the
    * missing column instead of silently generating wrong candidates.
    * Same `appendOnly` streaming economics and replay tolerance as
    * [[seedGramIndex]]. */
  def seedWinnowIndex(store: graft.store.TableStore, fpTable: String,
                      dfTable: String, gramsTable: String,
                      corpus: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, w: Int = 8, buckets: Int = 0,
                      appendOnly: Boolean = false): Unit = {
    // one fanned-out kernel pass (see seedContainmentTables)
    val prepped = corpus.repartition(fanOutParts(corpus), col(idCol))
      .withColumn("__tokens", tokensCol(col(textCol)))
      .select(col(idCol).cast("long").as("id"),
        GraftFunctions.ngramHashes(col("__tokens"), n).as("grams"),
        GraftFunctions.winnowHashes(col("__tokens"), n, w).as("__keys"))
      .withColumn("sz", size(col("grams")))
    seedContainmentTables(store, fpTable, dfTable, gramsTable,
      prepped, keysCol = "__keys", "fp", buckets, appendOnly)
  }

  /** Shared seeding body of [[seedGramIndex]] / [[seedWinnowIndex]]:
    * postings = `__keys` exploded under `keyName`, df delta-merged by
    * sum, gram arrays upserted/appended by id. Through a txn view each of
    * the three writes applies at most once per batch: a replayed seeding
    * would otherwise inflate df by one batch, and the winnow index's df
    * CAP is recall-bearing (an inflated fingerprint df can cross
    * dfCap/effCap and silently lose pairs). */
  private def seedContainmentTables(store: graft.store.TableStore,
                                    postingsTable: String, dfTable: String,
                                    gramsTable: String, prepped: DataFrame,
                                    keysCol: String,
                                    keyName: String, buckets: Int,
                                    appendOnly: Boolean): Unit = Pins.scoped {
    require(!(appendOnly && buckets > 0),
      "appendOnly seeding needs plain snapshots (buckets = 0): bucketed " +
        "layouts carry catalog file metadata that file appends would skew")
    // ONE materialized kernel pass: seeding issues THREE write actions
    // (postings, df, gram arrays), and without the pin each action re-ran
    // tokenize + NgramHashes (+ WinnowHashes) over the whole batch —
    // measured r15 at sf0.1 (q_dedup_inc_containment event log): three
    // single-task corpus passes of 0.69/0.55/0.27 s per seeding call. The
    // callers fan the kernel out first (explicit-count repartition on id,
    // AQE-coalescing-exempt), so the one pass is also parallel. The pin is
    // batch-sized (the same rows the gram-array write persists) and lives
    // only for this call's scope: a per-trigger streaming seeder would
    // otherwise accumulate batch-sized pinned blocks across a long ingest.
    val mat = Pins.pin(prepped)
    val postings = mat
      .select(explode(col(keysCol)).as(keyName), col("id"), col("sz"))
    def put(table: String, rows: DataFrame, pks: Seq[String]): Unit =
      if (!store.exists(table))
        store.overwrite(table, rows, primaryKeys = pks, buckets = buckets)
      else if (appendOnly) store.appendFiles(table, rows)
      else store.upsert(table, rows, pks)
    put(postingsTable, postings, Seq(keyName, "id"))
    // df must DELTA-MERGE (sum), never PK-replace: an upsert would reset a
    // corpus-wide key's df to its count in the latest batch, hot keys
    // would rank as rare, enter prefixes (or dodge the winnow df cap),
    // and the postings probe would re-create the hot-bucket blowup
    // invariant 9 exists to prevent (recall would survive — prefix choice
    // is order-free — but the scale contract would silently void). The
    // merged table is vocab-sized, so the per-batch rewrite is bounded by
    // the vocabulary, not the corpus.
    val batchDf = postings.groupBy(keyName).agg(count(lit(1)).as("df"))
    if (store.exists(dfTable))
      store.overwrite(dfTable,
        store.read(dfTable).unionByName(batchDf)
          .groupBy(keyName).agg(sum("df").as("df")))
    else store.overwrite(dfTable, batchDf,
      primaryKeys = Seq(keyName), buckets = buckets)
    put(gramsTable, mat.select("id", "grams", "sz"), Seq("id"))
  }

  /** INCREMENTAL containment probe: flag each document of a NEW batch
    * whose n-gram set is ≥ `threshold` CONTAINED in some already-ingested
    * corpus document — the per-ingest form of [[containmentPairs]] at
    * corpus scale ("is this incoming page mostly a quote of something we
    * already have"), where re-indexing the corpus per arriving batch is
    * exactly the cost to avoid. Returns `(probe_id, id, containment)`
    * ordered batch→corpus; batch-internal pairs are out of scope by
    * construction (the batch only probes the store).
    *
    * An at-least-once caller probes through a txn view
    * ([[graft.store.TableStore.txn]]): a replayed batch then reads each
    * index as of the version before its own seeding, so its previously
    * seeded docs neither self-match nor hide batch-internal pairs, while
    * a doc re-sent in a LATER batch still self-matches at 1.0 and is
    * flagged (a blanket self-pair exclusion would wave it through).
    *
    * Topology (every corpus table streams MAP-ONLY, every shuffle batch-
    * or collision-sized): the batch signs once (pinned — prefix and
    * verify subtrees share it); its distinct grams broadcast-probe the
    * vocab-sized df table for the rare-first prefix order (grams unseen
    * in the corpus take df 0 — they hit nothing, so they are the CHEAPEST
    * prefix slots, and recall-completeness holds under ANY prefix choice:
    * missing all p prefix grams bounds `|A∩B| ≤ |A| − p`); the per-doc
    * prefix broadcast-probes the postings index (size-filtered on the
    * stored corpus sz); candidate ids broadcast-probe the gram-array
    * table; the native sorted-merge kernel verifies exactly. Corpus-sized
    * batches switch every batch-derived side to shuffled hash joins
    * ([[graft.ops.Pairs.probeSide]]). */
  def containmentIncremental(store: graft.store.TableStore,
                             postingsTable: String, dfTable: String,
                             gramsTable: String,
                             batch: DataFrame, textCol: String, idCol: String,
                             n: Int = 3, threshold: Double = 0.8,
                             maxProbeCandidatesPerPosting: Long = 64): DataFrame = {
    val gramsStore = store.read(gramsTable)
    val prepped = Pins.pin(batch
      .withColumn("__tokens", tokensCol(col(textCol)))
      .select(col(idCol).cast("long").as("probe_id"),
        GraftFunctions.ngramHashes(col("__tokens"), n).as("__gh")))
    val probeSide = Pairs.probeSide(prepped)
    val probeGrams = prepped
      .select(col("probe_id"), size(col("__gh")).as("__sz"),
        explode(col("__gh")).as("gram"))
    val dfs = store.read(dfTable)
      .join(probeSide(probeGrams.select("gram").distinct()), Seq("gram"))
    val prefixLen = greatest(
      col("__sz") - ceil(lit(threshold) * col("__sz") - 1e-9).cast("int") + 1,
      lit(1))
    val rankW = Window.partitionBy(col("probe_id"))
      .orderBy(col("__df"), col("gram"))
    val prefixAll = probeGrams.join(probeSide(dfs), Seq("gram"), "left")
      .withColumn("__df", coalesce(col("df"), lit(0L)))
      .withColumn("__rn", row_number().over(rankW))
      .where(col("__rn") <= prefixLen)
    // PROBE-SIDE candidate-volume guard (the guardCandidateVolume twin,
    // found the hard way at sf10: a 100k-doc trigger against a 400k-doc
    // saturated corpus predicted 2.34B candidates — ~200 per batch gram
    // posting vs 17 at sf1 — and ENOSPC'd a >70 GB spill before this
    // guard existed). The prediction is EXACT for the pre-dedup
    // candidate stream: Σ df over the chosen prefix grams, one
    // batch-sized aggregate; the budget is per batch gram posting, so
    // it is scale-free in the batch and trips only when the CORPUS is
    // gram-saturated enough that the recall-complete probe cannot stay
    // linear (the r9/r10 data-bound term).
    if (maxProbeCandidatesPerPosting > 0) {
      val row = prefixAll
        .agg(sum(col("__df")).cast("double").as("cand")).head()
      if (!row.isNullAt(0)) {
        val predicted = row.getDouble(0)
        val postings = prepped
          .agg(sum(size(col("__gh"))).cast("double")).head().getDouble(0)
        require(predicted <= maxProbeCandidatesPerPosting * postings,
          f"containmentIncremental: predicted probe candidate volume " +
            f"$predicted%.3g exceeds $maxProbeCandidatesPerPosting × batch " +
            f"postings ($postings%.3g) — the corpus is gram-saturated and " +
            "the recall-complete probe would spill at scale. Shrink the " +
            "batch (volume is linear in batch size), verify a bounded " +
            "slice with containmentVerifiedPairs, or raise " +
            "maxProbeCandidatesPerPosting (<= 0 disables).")
      }
    }
    containmentProbeTail(store.read(postingsTable), "gram",
      prefixAll.select(col("gram"), col("probe_id"), col("__sz")),
      gramsStore, prepped, threshold, probeSide)
  }

  /** The shared tail of [[containmentIncremental]] and
    * [[containmentIncrementalBanded]]: `probe` rows `(key, probe_id,
    * __sz)` probe the `postings` index `(key, id, sz)`, size-filtered
    * (containment admits one: |A∩B| ≤ |B| ⟹ |B| ≥ t·|A|) and distinct
    * per `(probe_id, id)`; the candidates fetch their stored gram arrays
    * and verify exactly against the pinned batch's `__gh` — unrounded
    * gate, rounded presentation ([[verifiedContainment]]). The second
    * dropDuplicates runs AFTER the gram-array join (collision-sized, never
    * a corpus shuffle): append-only seeding of the same doc twice leaves
    * duplicate gram rows per id — bit-identical (same doc, same grams),
    * so keeping any one is deterministic. */
  private def containmentProbeTail(postings: DataFrame, key: String,
                                   probe: DataFrame, gramsStore: DataFrame,
                                   prepped: DataFrame, threshold: Double,
                                   probeSide: DataFrame => DataFrame): DataFrame = {
    val cand = postings
      .join(probeSide(probe), Seq(key))
      .where(col("sz") >= col("__sz") * threshold - 1e-9)
      .select(col("probe_id"), col("id"))
      .dropDuplicates("probe_id", "id")
    verifiedContainment(
        gramsStore.select(col("id"), col("grams"))
          .join(probeSide(cand), Seq("id"))
          .dropDuplicates("probe_id", "id")
          .join(probeSide(prepped.select(col("probe_id"), col("__gh"))), Seq("probe_id")),
        "__gh", "grams", threshold)
      .select("probe_id", "id", "containment")
  }

  /** INCREMENTAL BANDED containment probe: flag each document of a NEW
    * batch whose n-gram set is ≥ `threshold` contained in some
    * already-ingested corpus document, riding the persisted
    * WINNOWED-fingerprint index ([[seedWinnowIndex]]) instead of the full
    * gram-posting index — the bounded-recall scale path
    * [[containmentIncremental]] cannot offer on gram-saturated corpora,
    * where the recall-complete probe's candidate volume grows with corpus
    * df and its guard refuses by design (measured r13 at sf10: ~200
    * candidates per batch posting, 2.34B candidates predicted, >70 GB
    * spill — BASELINE.md r13 addendum). Same output and txn-view
    * replay contract as the exact probe; recall is
    * [[containmentVerifiedPairs]]' winnowing contract — any contiguous
    * shared run ≥ w+n−1 tokens shares a fingerprint, deterministic MODULO
    * the df cap (quote/subset detection, the workload this op exists
    * for); scattered sub-run overlap is the measured lossy trade
    * (BASELINE.md recall tables).
    *
    * Candidate volume is bounded BY CONSTRUCTION, not by fail-fast: each
    * admitted batch fingerprint contributes at most its corpus df ≤ cap
    * candidates, and the cap is cut from the batch-fingerprint df
    * histogram (one tiny collect — an AQE-style runtime-statistics
    * decision, like the batch path's) so Σ df over admitted fingerprints
    * ≤ max(candidateBudgetPerPosting × batch fp postings,
    * minCandidateBudget) — linear in BATCH size whatever the corpus;
    * `dfCap` stays the hard boilerplate ceiling, and the rarest batch df
    * always probes (a silently-empty probe would read as "no duplicates").
    *
    * Topology mirrors [[containmentIncremental]]: fp postings, fp df, and
    * gram arrays all stream MAP-ONLY (never shuffled, re-read, or
    * re-signed); every shuffle is batch- or candidate-sized; large
    * batches switch broadcast probes to shuffled hash joins
    * ([[graft.ops.Pairs.probeSide]]). Verification is the identical unrounded
    * sorted-intersect gate, so banded-probe pairs ⊆ exact-probe pairs. */
  def containmentIncrementalBanded(store: graft.store.TableStore,
                                   fpTable: String, dfTable: String,
                                   gramsTable: String,
                                   batch: DataFrame, textCol: String,
                                   idCol: String,
                                   n: Int = 3, w: Int = 8,
                                   threshold: Double = 0.8,
                                   dfCap: Long = 4096,
                                   candidateBudgetPerPosting: Long = 8,
                                   minCandidateBudget: Long = 2000000L): DataFrame = {
    val gramsStore = store.read(gramsTable)
    val prepped = Pins.pin(batch
      .withColumn("__tokens", tokensCol(col(textCol)))
      .select(col(idCol).cast("long").as("probe_id"),
        GraftFunctions.ngramHashes(col("__tokens"), n).as("__gh"),
        GraftFunctions.winnowHashes(col("__tokens"), n, w).as("__fp")))
    val probeSide = Pairs.probeSide(prepped)
    val batchFps = prepped
      .select(col("probe_id"), size(col("__gh")).as("__sz"),
        explode(col("__fp")).as("fp"))
    // corpus df per batch fingerprint: the vocab-sized df table streams
    // map-only against the broadcast batch fp set; fingerprints unseen in
    // the corpus take df 0 — they hit nothing and cost nothing
    val dfs = store.read(dfTable)
      .join(probeSide(batchFps.select("fp").distinct()), Seq("fp"))
    val withDf = batchFps.join(probeSide(dfs), Seq("fp"), "left")
      .withColumn("__df", coalesce(col("df"), lit(0L)))
    // adaptive cap from the batch-side df histogram: candidate volume at
    // cap c is exactly Σ_{df ≤ c} df·k (each batch fp posting meets all
    // df corpus holders), so the cut keeps the probe linear in the batch
    val hist = withDf.groupBy("__df").agg(count(lit(1)).as("__k"))
      .orderBy("__df").collect().map(r => (r.getLong(0), r.getLong(1)))
    val nPostings = hist.iterator.map(_._2).sum
    val budget = math.max(candidateBudgetPerPosting * nPostings, minCandidateBudget)
    var cum = 0L
    // rarest POSITIVE df always probes (under the hard ceiling; df 0 =
    // unseen fingerprints, free either way) — worst case k·dfCap, still
    // batch-bounded
    var effCap = hist.iterator.map(_._1).filter(d => d > 0 && d <= dfCap)
      .nextOption().getOrElse(0L)
    hist.foreach { case (d, k) =>
      cum += d * k
      if (cum <= budget && d <= dfCap) effCap = math.max(effCap, d)
    }
    containmentProbeTail(store.read(fpTable), "fp",
      withDf.where(col("__df") <= effCap).select(col("fp"), col("probe_id"), col("__sz")),
      gramsStore, prepped, threshold, probeSide)
  }

  /** Corpus-wide exact block dedup with document reassembly — the
    * block-granular analog of ExactSubstr dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): documents are
    * cut into fixed `blockWords`-word blocks, every repeated block keeps
    * only its FIRST occurrence in (idCol, position) order corpus-wide, and
    * each document is rebuilt from its surviving blocks. Returns
    * `(idCol, text_dedup, n_blocks, n_kept)` — one row per input document,
    * `text_dedup = ""` when everything was seen before.
    *
    * Unlike [[exact]] (whole-document) this removes duplication *inside*
    * otherwise-distinct documents (boilerplate headers, quoted replies,
    * mirrored passages); unlike `Repetition.removeBoilerplate` the rule is
    * first-instance-wins rather than a document-frequency threshold, so a
    * passage's canonical occurrence survives no matter how many copies
    * exist.
    *
    * Scale: blocks shuffle twice — once partitioned by the block text for
    * the keep-first window (a suffix-array-free stand-in whose key could be
    * `xxhash64(block)` if block strings grow large), once by document id
    * for reassembly. Both are scalar-ish rows (id, pos, ≤blockWords words);
    * nothing is ever all-pairs, and a hot duplicated block costs one
    * in-partition sort, not a blowup. */
  def dedupBlocksGlobal(df: DataFrame, textCol: String, idCol: String,
                        blockWords: Int = 5): DataFrame = {
    require(blockWords > 0, "blockWords must be positive")
    val words = filter(split(col(textCol), "\\s+"), w => w =!= "")
    val base = df.select(col(idCol), words.as("__w"))
      .select(col(idCol),
        ceil(size(col("__w")).cast("double") / blockWords).cast("int").as("n_blocks"),
        col("__w"))
    val blocks = base.select(col(idCol),
      posexplode(when(col("n_blocks") > 0,
          transform(sequence(lit(0), col("n_blocks") - 1),
            i => concat_ws(" ", slice(col("__w"), i * blockWords + 1, lit(blockWords)))))
        .otherwise(array().cast("array<string>"))).as(Seq("pos", "block")))
    val w = Window.partitionBy(col("block")).orderBy(col(idCol), col("pos"))
    val rebuilt = blocks
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("block")))),
          s => s.getField("block"))).as("text_dedup"),
        count(lit(1)).cast("int").as("n_kept"))
    base.select(col(idCol), col("n_blocks"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        col("n_blocks"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"))
  }

  /** Cross-group n-gram overlap matrix — the dataset-mixing audit run
    * before combining corpora (and the corpus-level cousin of
    * [[contaminationReport]]): for every pair of groups (sources,
    * datasets, splits), how many distinct word n-grams they share and the
    * Jaccard of their gram sets. High overlap between a train source and
    * an eval source is contamination; high overlap between two "distinct"
    * crawls is wasted mixture weight.
    *
    * Returns `(group_a, group_b, shared_grams, n_a, n_b, jaccard)` for
    * pairs with ≥1 shared gram, `group_a < group_b`; `jaccard` is the
    * repo-standard tie-free fixed-point round of exact integer counts.
    *
    * Scale: the corpus collapses to DISTINCT (group, gram) rows — one
    * gram-keyed aggregate whose shuffle carries the distinct-gram mass,
    * not occurrences; the pair counts come from a self-join keyed by the
    * GRAM (per-gram fan-out ≤ k² for k groups — tens, by definition),
    * never document pairs; per-group totals are a k-row broadcast. */
  /** Per-document novelty against the id-ordered corpus: for each doc,
    * how many of its distinct word n-grams appear in NO smaller-id
    * document (first-occurrence attribution — the per-doc marginal
    * contribution the ExactSubstr dedup literature measures corpus-wide,
    * Lee et al. ACL 2022). Low-novelty docs are the ones block dedup
    * would hollow out; the score ranks them without rebuilding any text.
    *
    * Returns `(idCol, n_grams, n_new, novelty_x10000)` — novelty is a
    * fixed-point integer fraction (`n_new·10⁴ div n_grams`, exact).
    *
    * Scale: distinct (doc, gram) pairs → one gram-keyed min-id aggregate
    * (map-side combined) joined back on the gram, then a doc-keyed
    * rollup. Two scalar-row shuffles; no doc-doc pairs, no text
    * reassembly. Grams ride as native [[graft.functions.NgramHashes]]
    * longs (sorted-distinct, strings never materialize): identity-only
    * consumers (counts, min-id, joins) are hash-invariant, and the
    * codegen kernel is immune to the HOF-inlining trap —
    * `InferFiltersFromGenerate` plants a `size(grams) > 0` filter under
    * the explode, and with the `transform`-lambda gram form that filter
    * re-tokenizes per ELEMENT inside the scan (measured 24 s → 0.9 s at
    * sf0.1; the Generate-side cousin of CLAUDE.md invariant 6, which a
    * projection barrier alone does NOT stop). */
  def docNovelty(df: DataFrame, textCol: String, idCol: String,
                 n: Int = 3): DataFrame = {
    val pairs = df.select(col(idCol), col(textCol))
      .withColumn("__tokens", tokensCol(col(textCol)))
      .select(col(idCol),
        explode(GraftFunctions.ngramHashes(col("__tokens"), n))
          .as("__gram"))
    val first = pairs.groupBy(col("__gram"))
      .agg(min(col(idCol)).as("__first"))
    pairs.join(first, Seq("__gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col(idCol) === col("__first"), 1L).otherwise(0L)).as("n_new"))
      .withColumn("novelty_x10000",
        expr("CAST((n_new * 10000) DIV n_grams AS INT)"))
  }

  /** Dedup-threshold sensitivity curve: how many near-duplicate pairs —
    * and how many documents — would each candidate Jaccard threshold
    * remove? The tuning report run before committing a dedup pass: one
    * row per 0.1-wide similarity band ≥ `minThreshold`, with the pair
    * count and the count of distinct documents touched. Reading the
    * cumulative tail from band b downward gives the exact removal volume
    * at threshold b/10 — the cost/recall tradeoff made visible before
    * the irreversible delete.
    *
    * Band index is recovered from the 4-dp fixed-point jaccard as an
    * integer (`round(j·10⁴) div 10³`) — never `floor(j·10)`, whose binary
    * representation error misbands exact-decimal similarities (0.6·10 =
    * 5.999… in IEEE). Band 10 is the exact-duplicate band.
    *
    * Scale: everything rides [[ngramJaccardPairs]] (banded prefix-filter
    * candidates, never all-pairs); the curve itself adds one band-keyed
    * aggregation over pair rows and one over the 2-row-per-pair doc
    * explode — both bounded by the pair volume, which `minThreshold`
    * controls. */
  def thresholdCurve(df: DataFrame, textCol: String, idCol: String,
                     n: Int = 3, minThreshold: Double = 0.4): DataFrame =
    thresholdCurveFromPairs(
      ngramJaccardPairs(df, textCol, idCol, n, minThreshold))

  /** [[thresholdCurve]] over an ALREADY-MATERIALIZED pair list
    * (`id_a, id_b, jaccard`) — the production shape: the pair list is the
    * expensive artifact and is staged once (TableStore / checkpoint), then
    * every consumer (curve, clusters, keep-best) reads it instead of
    * re-running candidate generation. */
  def thresholdCurveFromPairs(pairs: DataFrame): DataFrame = {
    val banded = pairs.withColumn("band",
      expr("CAST(round(jaccard * 10000) AS BIGINT) div 1000").cast("int"))
    val perPair = banded.groupBy("band").agg(count(lit(1)).as("n_pairs"))
    val perDoc = banded
      .select(col("band"), explode(array(col("id_a"), col("id_b"))).as("__id"))
      .distinct()
      .groupBy("band").agg(count(lit(1)).as("n_docs"))
    perPair.join(perDoc, Seq("band"))
  }

  def crossGroupOverlap(df: DataFrame, textCol: String, groupCol: String,
                        n: Int = 3): DataFrame = {
    // native gram-hash kernel for the same reasons as [[docNovelty]]:
    // identity-only consumers + immunity to the Generate-filter inlining
    val grams = df.select(col(groupCol), col(textCol))
      .withColumn("__tokens", tokensCol(col(textCol)))
      .select(col(groupCol),
        explode(GraftFunctions.ngramHashes(col("__tokens"), n))
          .as("__gram"))
      .distinct()
    val totals = grams.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val shared = grams.select(col(groupCol).as("group_a"), col("__gram"))
      .join(grams.select(col(groupCol).as("group_b"), col("__gram")), Seq("__gram"))
      .where(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("shared_grams"))
    val union = col("n_a") + col("n_b") - col("shared_grams")
    shared
      .join(broadcast(totals.select(col(groupCol).as("group_a"),
        col("__n").as("n_a"))), Seq("group_a"))
      .join(broadcast(totals.select(col(groupCol).as("group_b"),
        col("__n").as("n_b"))), Seq("group_b"))
      .withColumn("jaccard",
        floor(col("shared_grams") / union * 10000.0 + 0.5) / 10000.0)
      .select("group_a", "group_b", "shared_grams", "n_a", "n_b", "jaccard")
  }
}
