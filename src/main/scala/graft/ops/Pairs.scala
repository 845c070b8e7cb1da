package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pair-join core of the near-duplicate family (`text/Dedup`,
  * `sim/Similarity`, `sim/Cluster`): candidate generation as one bucketed
  * join, the by-id fetch of the arrays a candidate pair is verified on,
  * and the broadcast gate of the incremental probes — the filter-then-
  * verify operator of the similarity-join literature (cf. *Similarity
  * Joins of Sparse Features*, SIGMOD 2024), written once. Each caller
  * keeps only its own keys, verify predicate and pair-dedup. */
object Pairs {

  /** Bucket self-join of `keyed` on `keys`: the frame is shuffled on the
    * bucket key BEFORE the two sides are aliased, so both sides hang off
    * one identical Exchange subtree, ReuseExchange dedups it, and whatever
    * computed the keys (a signature kernel, an SRP projection, a centroid
    * assignment) runs once. On Spark 4.1 AQE's stage reuse also matches
    * the two aliased sides without this repartition (measured on a
    * self-join built by hand); with it, the one read does not rest on
    * alias names canonicalizing away. See [[bucketJoin]] for the output. */
  def selfJoin(keyed: DataFrame, keys: Seq[String], id: String,
               carried: Seq[(String, String)],
               ordered: Boolean = false): DataFrame = {
    val shuffled = keyed.repartition(keys.map(col): _*)
    bucketJoin(shuffled, shuffled, keys, id, carried, ordered)
  }

  /** Candidate pairs sharing a bucket: `left` rows become side `a`, `right`
    * rows side `b`, each projected to `keys`, its `id` as `id_a`/`id_b` and
    * every `carried` column `c -> name` as `name_a`/`name_b`; the join
    * hints `shuffle_hash` on side `b` (a bucket is hashed, never sorted —
    * invariant 13). Pairs are unordered, `id_a < id_b`, or with `ordered`
    * both directions, `id_a =!= id_b` (an asymmetric measure such as
    * containment). A pair sharing several buckets appears once per bucket;
    * the caller verifies, then dedups. */
  def bucketJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 id: String, carried: Seq[(String, String)],
                 ordered: Boolean = false): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame =
      df.select(keys.map(col) ++ (col(id).as(s"id_$s") +:
        carried.map { case (c, name) => col(c).as(s"${name}_$s") }): _*)
    side(left, "a").join(side(right, "b").hint("shuffle_hash"), keys)
      .where(if (ordered) col("id_a") =!= col("id_b") else col("id_a") < col("id_b"))
  }

  /** Fetch, for the candidate `pairs` (`id_a`, `id_b`, …), the `array` of
    * each side from `byId` as `g_a`/`g_b`. `byId` is shuffled on `id`
    * before aliasing, so both lookups read one reused Exchange: each doc's
    * array ships once, while a carried one ships once per bucket posting
    * (|G| longs each). MinHash, `ngramJaccardPairs` and `containmentPairs`
    * fetch: they post every band, prefix or index gram, singleton buckets
    * included, and keep no per-bucket counts to price the two ways;
    * `containmentVerifiedPairs` prices them from its df histogram. */
  def withArrays(pairs: DataFrame, byId: DataFrame, id: String,
                 array: String): DataFrame = {
    val arrays = byId.select(col(id), col(array)).repartition(col(id))
    val ga = arrays.select(col(id).as("id_a"), col(array).as("g_a"))
    val gb = arrays.select(col(id).as("id_b"), col(array).as("g_b"))
    pairs.join(ga.hint("shuffle_hash"), Seq("id_a"))
      .join(gb.hint("shuffle_hash"), Seq("id_b"))
  }

  /** Largest batch the incremental probes broadcast. Broadcasting collects
    * the batch to the driver first: a 100k-doc trigger's gram arrays are
    * ~1 GB serialized and blew `spark.driver.maxResultSize` in the r13
    * sf10 StreamAnchor run (the r12 carry-join pattern, found again at
    * stream volumes). */
  private val MaxBroadcastProbeRows = 65536L

  /** The broadcast gate of the incremental probes: one count of the
    * PINNED batch, then the hint every batch-derived join side takes.
    * Small batches broadcast, so the corpus tables stream map-only and
    * never shuffle; above [[MaxBroadcastProbeRows]] every batch-derived
    * side is a `shuffle_hash` build instead, and the corpus scans shuffle
    * once on their join keys — the right trade when the batch is itself
    * corpus-sized. */
  def probeSide(pinnedBatch: DataFrame): DataFrame => DataFrame = {
    val small = pinnedBatch.count() <= MaxBroadcastProbeRows
    df => if (small) broadcast(df) else df.hint("shuffle_hash")
  }
}
