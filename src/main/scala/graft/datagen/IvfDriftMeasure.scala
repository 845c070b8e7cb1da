package graft.datagen

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins
import graft.sim.{Cluster, IvfIndex, Similarity}
import graft.store.TableStore

/** MEASURED recall-vs-corpus-growth for the incremental IVF index under a
  * FROZEN coarse quantizer, and what [[graft.sim.IvfIndex.refit]] buys
  * back (r14 verdict item 3: "at 100 TB an IVF index that never re-fits
  * quietly loses recall; today the user can't even see it happening").
  *
  * Method: fit k-means centroids on the sf embeddings corpus, seed the
  * store, then ingest `steps` DRIFTED batches — each batch is the base
  * corpus under a step-scaled systematic shift (mass rotated into two
  * fixed directions) plus per-component hash jitter, so the ingested
  * distribution walks away from the fitted one the way a real embedding
  * stream drifts (new domains, encoder updates). After every step:
  *  - `drift` = posting-count-weighted mean of [[IvfIndex.driftStats]]'
  *    per-cluster mean squared distance (the operator's alarm signal);
  *  - `recall@10` of [[IvfIndex.searchStored]] (nProbe 4) against exact
  *    [[Similarity.bruteForceTopK]] ground truth over the SAME store
  *    contents, for a 50-query panel drawn from the newest (most-drifted)
  *    batch.
  * Then [[IvfIndex.refit]] re-fits on the grown store and the final row
  * re-measures everything.
  *
  * What the measurement actually shows (r15, sf0.1) — the two drift
  * modes fail DIFFERENTLY and trip DIFFERENT driftStats signals:
  *
  *  - `translate` (`bench/ivf_drift_sf0.1_r15.json`): fixed-nProbe
  *    recall does NOT decay (drifted queries' neighbors concentrate with
  *    them: 0.72 fresh → 0.90 at step 5, back to 0.76 after refit) — the
  *    operator signal is `mean_sqdist` climbing monotonically +36% over
  *    5 steps (occupancy skews mildly, 7.2% → 12.0%); refit returns the
  *    alarm to +8.6% over fresh on a 6× corpus.
  *  - `newblob` (`bench/ivf_drift_newblob_sf0.1_r15.json`, nProbe 1):
  *    recall LOSS is real — blob queries find 0.53–0.58 of their true
  *    neighbors under the frozen quantizer (the blob splits ~50/50
  *    across the two parent buckets; max bucket share spikes 7.2% →
  *    29.2% at the first step) and [[IvfIndex.refit]] recovers to 0.73.
  *    `mean_sqdist` DROPS in this mode (boundary blobs sit at half-gap
  *    distance, closer than typical corpus mass) — the alarm that fires
  *    is the OCCUPANCY skew, which is why [[IvfIndex.driftStats]]
  *    reports per-cluster `n` alongside the distance trend: watch both.
  *
  * The deterministic toy pinning of the recall-loss mode (frozen ≤ 6/10
  * neighbors found, refit ≥ 9/10, refit ≡ from-scratch fit bit-for-bit)
  * is IvfIndexSpec's drift/refit test.
  *
  * Usage: `runMain graft.datagen.IvfDriftMeasure <sfDir> <out.json>
  * [steps] [k] [nProbe] [mode: translate|newblob]`
  */
object IvfDriftMeasure {

  private def jitter(df: DataFrame, step: Int): DataFrame = {
    // systematic drift (step-scaled shift on two fixed directions) +
    // deterministic per-component jitter; ids offset so steps never collide
    val shifted = zip_with(
      col("embedding").cast("array<double>"),
      sequence(lit(0), size(col("embedding")) - 1),
      (x, i) => x
        + when(i === 0, lit(0.15) * step).otherwise(lit(0.0))
        + when(i === 1, lit(-0.1) * step).otherwise(lit(0.0))
        + (pmod(xxhash64(col("vec_id"), i, lit(step)), lit(1001)) - 500) / 10000.0)
    df.select((col("vec_id") + lit(step.toLong * 1000000L)).as("vec_id"),
      shifted.as("embedding"))
  }

  /** The recall-LOSS drift mode: each step's batch is a NEW blob centered
    * on the MIDPOINT of two fitted centroids (pair rotates with the step),
    * spread in the bucket-BOUNDARY PLANE (per-vector jitter with its
    * component along the inter-centroid axis projected out) plus a tiny
    * random side displacement along the axis. The frozen quantizer then
    * splits the blob ~50/50 across the two parent buckets while a
    * member's true nearest neighbors — determined entirely by the
    * in-plane jitter — are UNCORRELATED with its side, so a fixed-nProbe
    * probe from inside the blob finds only the half that shares its
    * bucket. This is the drift mode IvfIndexSpec pins at toy scale
    * (frozen ≤ 6/10 planted neighbors, refit ≥ 9/10), measured here at
    * corpus scale. */
  private def newBlob(df: DataFrame, step: Int,
                      cents: Seq[Seq[Long]]): DataFrame = {
    val k = cents.size
    val a = cents(((step - 1) * 2) % k).map(_ / 1e6)
    val b = cents(((step - 1) * 2 + 1) % k).map(_ / 1e6)
    val mid = a.zip(b).map { case (x, y) => (x + y) / 2.0 }
    val axis = a.zip(b).map { case (x, y) => y - x }
    val norm = math.sqrt(axis.map(x => x * x).sum)
    val u = axis.map(_ / norm)
    val midLit = array(mid.map(lit): _*)
    val uLit = array(u.map(lit): _*)
    def jComp(i: Column) = // deterministic per-(vector, component) jitter
      (pmod(xxhash64(col("vec_id"), i, lit(step)), lit(1001)) - 500) / 10000.0
    // j · u (the along-axis jitter component, to be projected out)
    val dot = (0 until mid.size)
      .map(i => jComp(lit(i)) * u(i)).reduce(_ + _)
    // ±0.005 side displacement: flips the argmin between the equidistant
    // parents but is an order of magnitude under the in-plane spread
    val side = (pmod(xxhash64(col("vec_id"), lit(step)), lit(2)) * 2 - 1) / 200.0
    val blob = zip_with(
      midLit,
      sequence(lit(0), lit(mid.size - 1)),
      (m, i) => m + jComp(i)
        + (side - dot) * element_at(uLit, (i + 1).cast("int")))
    df.select((col("vec_id") + lit(step.toLong * 1000000L)).as("vec_id"),
      blob.as("embedding"))
  }

  /** recall@k of the stored-index search vs exact brute force over the
    * same corpus, averaged over the query panel (fixed point ×10⁴). */
  private def recallAtK(store: TableStore, table: String, queries: DataFrame,
                        cents: Seq[Seq[Long]], k: Int, nProbe: Int): Long = {
    val approx = IvfIndex.searchStored(store, table, queries,
        "vec_id", "embedding", cents, k = k, nProbe = nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val corpus = store.read(table).select(col("id").as("vec_id"), col("v").as("embedding"))
    val exact = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = k)
      .select(col("query_id"), col("neighbor_id"))
    val hit = exact.join(approx, Seq("query_id", "neighbor_id")).count()
    val total = exact.count()
    if (total == 0) 10000L else hit * 10000L / total
  }

  private def weightedDrift(store: TableStore, table: String,
                            cents: Seq[Seq[Long]]): (Long, Long) = {
    val r = IvfIndex.driftStats(store, table, cents)
      .agg(sum(col("n") * col("mean_sqdist")).cast("double"),
        sum(col("n")).cast("double"),
        max(col("n")).cast("double")).head()
    // (posting-weighted mean sqdist, max bucket share ×10⁴) — the second
    // number is the BALANCE alarm: a frozen quantizer under translation
    // drift funnels new mass into few buckets, so per-probe candidate
    // volume (the cost that matters at 10⁹ vectors) balloons even where
    // fixed-nProbe recall looks fine
    ((r.getDouble(0) / r.getDouble(1)).toLong,
      (r.getDouble(2) / r.getDouble(1) * 10000).toLong)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outPath = if (args.length > 1) args(1) else "/tmp/graft_ivf_drift.json"
    val steps = if (args.length > 2) args(2).toInt else 5
    val k = if (args.length > 3) args(3).toInt else 16
    val nProbe = if (args.length > 4) args(4).toInt else 4
    val mode = if (args.length > 5) args(5) else "translate"
    require(mode == "translate" || mode == "newblob", s"unknown mode $mode")
    val spark = graft.obs.GraftSession.local()
    val work = Files.createTempDirectory("graft_ivf_drift").toString
    val store = new TableStore(spark, s"$work/store")

    val base = Pins.pin(spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")))
    val model = Cluster.kmeans(base, "vec_id", "embedding", k)
    var cents: Seq[Seq[Long]] =
      model.centroids.map(_.map(x => math.round(x * 1e6)).toVector).toVector
    IvfIndex.assignIncremental(store, "p", base, "vec_id", "embedding", cents)

    val rows = new scala.collection.mutable.ArrayBuffer[String]
    def measure(tag: String, step: Int, queriesFrom: DataFrame): Unit = {
      val queries = Pins.pin(queriesFrom.orderBy("vec_id").limit(50)
        .withColumn("vec_id", col("vec_id") + 9000000L)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.0005))))
      val rec = recallAtK(store, "p", queries, cents, 10, nProbe)
      val (dr, share) = weightedDrift(store, "p", cents)
      val n = store.read("p").count()
      rows += s"""{"tag":"$tag","step":$step,"store_n":$n,""" +
        s""""recall_x10000":$rec,"mean_sqdist":$dr,""" +
        s""""max_bucket_share_x10000":$share}"""
      println(rows.last)
    }
    measure("fresh", 0, base)

    var newest = base
    (1 to steps).foreach { g =>
      newest = Pins.pin(if (mode == "newblob") newBlob(base, g, cents)
                        else jitter(base, g))
      IvfIndex.assignIncremental(store, "p", newest, "vec_id", "embedding", cents)
      measure("frozen", g, newest)
    }
    cents = IvfIndex.refit(store, "p", k)
    measure("refit", steps, newest)

    val json = s"""{"sf_dir":"$srcDir","mode":"$mode","steps":$steps,"k":$k,""" +
      s""""n_probe":$nProbe,"rows":[${rows.mkString(",")}]}"""
    Files.write(Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
