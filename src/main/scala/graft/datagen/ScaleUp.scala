package graft.datagen

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor escalation generator: replicate the driver's sf0.1 testdata
  * `factor`× into a larger, self-consistent corpus (default: sf1 ≈ 6M-row
  * lineitem / 50k docs / 20k embeddings) so SCALE.md's claims can be
  * MEASURED instead of extrapolated (r8 verdict item 1).
  *
  * Replica `r` shifts every key column by `r · 10⁷` — far above any base
  * key and any of the `+10000/+20000` planted-clone offsets the bench
  * queries use — so referential joins (orders↔lineitem, customer↔orders,
  * part/supplier↔lineitem) stay consistent within each replica and the
  * whole corpus is the disjoint union of 10 coherent shards. Dimension
  * tables (region, nation) are copied as-is, exactly like a real 10×
  * data-volume growth.
  *
  * Payloads are deterministically DECORRELATED per replica (rep 0 is the
  * untouched original):
  *  - `documents.text`: tokens re-ordered by md5(token, doc, rep) — unigram
  *    mass and token counts preserved, but 3-gram sets are ~disjoint across
  *    replicas, so the near-dup pair volume scales like a real corpus
  *    instead of every doc acquiring 9 cross-replica twins (which would
  *    quadratically distort the dedup entries the run is meant to measure).
  *  - `embeddings.embedding`: per-component hash jitter in ±0.1 — replicas
  *    are distinct vectors, no degenerate distance ties in the ANN entries.
  *  - `events`: ids/users shifted; timestamps kept (10× event density over
  *    the same window, the realistic growth mode).
  *  - `customer.c_name` / `supplier.s_name`: regenerated from the SHIFTED
  *    key with the base generator's own `Customer#%09d` format (identity
  *    on rep 0). Leaving replicas with identical names makes every
  *    name-keyed equi-join a factor×factor cross-product per name — a
  *    property of the degenerate corpus, not of any plan: measured r12,
  *    q_er_fuzzy_join's payload re-attach join emitted ~10⁴× the base
  *    output at sf10 and ENOSPC'd an 80 GB sort spill. A real 100×
  *    corpus has ~100× distinct entities. Keys stay 9 digits up to
  *    factor 100 (max 99·10⁷ + base); beyond that %09d widens and the
  *    fixed-width name format breaks — keep factor ≤ 100.
  *
  * Usage: `runMain graft.datagen.ScaleUp /root/testdata/sf0.1 /tmp/testdata/sf1 10
  * [docmode] [tables]`
  *
  *  - `docmode = replicate` (default): the md5-shuffle replication above.
  *  - `docmode = zipf`: documents.text is REGENERATED for every row
  *    (replicas and originals alike) as OPEN-VOCABULARY Zipfian text —
  *    each token is drawn rank ∝ 1/r (Zipf s=1) from a 10⁷-type
  *    vocabulary via the inverse-CDF `rank = ⌊exp(u·ln V)⌋` on a
  *    per-(doc, position) hash uniform, token counts preserved from the
  *    source doc. Under Zipf sampling with a far-from-exhausted V the
  *    number of observed DISTINCT types grows with corpus size (Heaps'
  *    law: the rank where expected count reaches 1 is ~N/ln V, well
  *    under V through sf10) — `vocabGrowth`'s tail is NON-flat, unlike
  *    the closed-vocabulary replicate mode whose 3-gram space saturates.
  *    This is the corpus the exact pair family's scaling exponents are
  *    measured on (r14 verdict item 1): on closed vocab their
  *    super-linearity is data-bound (Σdf² grows ~quadratically); on an
  *    open vocabulary df stays Zipf-distributed with a growing rare tail,
  *    so the rare-first prefix/candidate volume should stay near-linear —
  *    measured, not asserted, by benching the dedup entries across zipf
  *    factors. Hot keys still exist (the rank-1 token carries p ≈ 1/ln V
  *    ≈ 6%), so the measurement is not a trivially-all-distinct corpus.
  *  - `tables`: comma list to restrict output (e.g. `documents` for the
  *    zipf pair-family campaign, where generating a 100× lineitem would
  *    be wasted work); default `all`.
  */
object ScaleUp {

  private val Offset = 10000000L

  /** Zipf(s=1) token stream over a V-type vocabulary from a deterministic
    * per-(doc, position) hash: u = hash/2³¹ ∈ [0,1), rank = ⌊exp(u·lnV)⌋
    * ∈ [1, V] — P(rank ≤ r) = ln r / ln V, i.e. pmf ∝ 1/r. Expects a
    * staged `__ntok` column (the source doc's token count). */
  private def zipfTextExpr(vocab: Double): org.apache.spark.sql.Column = {
    val lnV = math.log(vocab)
    val m = 2147483648.0 // 2^31
    val toks = transform(sequence(lit(1), col("__ntok")),
      j => concat(lit("z"),
        floor(exp(pmod(xxhash64(col("doc_id"), j, lit("zipf")), lit(2147483648L))
          .cast("double") / m * lnV)).cast("long")))
    // sequence(1, 0) would run DESCENDING (Spark picks step sign from the
    // bounds) — guard empty docs explicitly
    when(col("__ntok") > 0, concat_ws(" ", toks)).otherwise(lit(""))
  }

  /** df ∪ (factor−1) key-shifted replicas; `rep` column left for payload
    * perturbation, dropped by the caller. Fails fast if any base key
    * already reaches the replica offset — scaling an ALREADY-SCALED
    * corpus (e.g. sf1 → sf10) collides replica key spaces: (rep₁=3,
    * rep₂=0) and (rep₁=0, rep₂=3) map to the SAME id, which silently
    * merges users/baskets/docs and quadratically distorts every
    * join-shaped entry (measured as a 70 GB shuffle spill, r10). Always
    * scale from the driver's base sf0.1 with a larger factor. */
  private def replicate(df: DataFrame, factor: Int, keyCols: Seq[String]): DataFrame = {
    val maxExpr = if (keyCols.size == 1) max(col(keyCols.head))
      else greatest(keyCols.map(k => max(col(k))): _*)
    val maxRow = df.agg(maxExpr.cast("long")).head()
    require(!maxRow.isNullAt(0),
      s"empty input frame (max over ${keyCols.mkString(",")} is NULL) — " +
        "nothing to replicate; check the source directory")
    val maxKey = maxRow.getLong(0)
    require(maxKey < Offset,
      s"base keys reach $maxKey >= replica offset $Offset — this input is " +
        "already a scaled corpus; regenerate from the base sf with a " +
        "larger factor instead of re-scaling")
    require(maxKey + (factor - 1).toLong * Offset > 0,
      s"factor=$factor overflows Long key space at offset $Offset — use a " +
        "smaller factor")
    val exploded = df.withColumn("rep",
      explode(sequence(lit(0), lit(factor - 1))))
    keyCols.foldLeft(exploded)((d, k) =>
      d.withColumn(k, col(k) + col("rep") * Offset))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val docMode = if (args.length > 3) args(3) else "replicate"
    require(docMode == "replicate" || docMode == "zipf",
      s"unknown docmode '$docMode' (replicate | zipf)")
    val tables: Set[String] =
      if (args.length > 4 && args(4) != "all") args(4).split(",").toSet
      else Set("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
    // Fixed-width name contract (see Scaladoc): shifted keys must stay
    // ≤ 999,999,999 or Customer#%09d/Supplier#%09d widens to 10 digits and
    // every fixed-width consumer (q_er_fuzzy_join's substr-built dirty
    // names become edit distance 2) silently returns EMPTY bench results
    // instead of failing. 100 × 10⁷ is the largest shift that keeps 9
    // digits over the base sf0.1 key range.
    require(factor >= 1 && factor <= 100,
      s"factor=$factor outside [1, 100] — keys past 999,999,999 widen the " +
        "%09d name format and break fixed-width name consumers; scale in " +
        "one pass from the base sf0.1 with factor <= 100")
    val spark = graft.obs.GraftSession.local()

    def read(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: => DataFrame, t: String): Unit = if (tables(t)) {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }

    // dims copied as-is
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(replicate(read("customer"), factor, Seq("c_custkey"))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      .drop("rep"), "customer")
    write(replicate(read("supplier"), factor, Seq("s_suppkey"))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
      .drop("rep"), "supplier")
    write(replicate(read("part"), factor, Seq("p_partkey")).drop("rep"), "part")
    write(replicate(read("orders"), factor, Seq("o_orderkey", "o_custkey"))
      .drop("rep"), "orders")
    write(replicate(read("lineitem"), factor,
      Seq("l_orderkey", "l_partkey", "l_suppkey")).drop("rep"), "lineitem")
    write(replicate(read("events"), factor, Seq("event_id", "user_id"))
      .drop("rep"), "events")

    // documents: replicate = md5-order token shuffle per (doc, rep>0),
    // unigram-preserving closed vocab; zipf = open-vocabulary regeneration
    // for EVERY row (token counts preserved) — see class doc
    val docs = replicate(read("documents"), factor, Seq("doc_id"))
    val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
    val newText = if (docMode == "zipf") zipfTextExpr(1e7) else {
      val shuffled = concat_ws(" ",
        transform(
          array_sort(transform(toks,
            t => struct(md5(concat_ws("|", t, col("doc_id"), col("rep"))).as("k"),
              t.as("t")))),
          s => s.getField("t")))
      when(col("rep") === 0, col("text")).otherwise(shuffled)
    }
    write(docs
      .withColumn("__ntok", size(toks))
      .withColumn("text", newText)
      .withColumn("n_chars", length(col("text")))
      .drop("rep", "__ntok"), "documents")

    // embeddings: ±0.1 per-component hash jitter for rep > 0
    val emb = replicate(read("embeddings"), factor, Seq("vec_id"))
    val jittered = zip_with(
      col("embedding").cast("array<double>"),
      sequence(lit(0), size(col("embedding")) - 1),
      (x, i) => (x + (pmod(xxhash64(col("vec_id"), i), lit(1001)) - 500)
        / lit(5000.0)).cast("float"))
    write(emb
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding"))
          .otherwise(jittered))
      .drop("rep"), "embeddings")

    spark.stop()
  }
}
