package graft.datagen

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Pins
import graft.text.Dedup

/** Corpus-scale EMPIRICAL recall measurement for the two banded production
  * candidate generators — the companion of the oracle-checked
  * `q_dedup_recall_report` entry, covering the PROBABILISTIC regime that
  * entry deliberately avoids (the entry asserts the deterministic 0.9
  * thresholds; this tool measures the moderate-threshold region where
  * banding recall is the analytic `1 − (1 − j^r)^b` curve and winnowing
  * recall on scattered overlap has no guarantee at all).
  *
  * Measured tables (all vs the EXACT recall-complete references, budget
  * guard intentionally disabled — this is the verifier-grade run):
  *  - minhash banding (64/16) recall per 0.1-jaccard band at threshold
  *    0.5 — the row-level check of the ≈0.9998-at-j=0.8 analytic claim;
  *  - winnowed containment (w=8) recall at threshold 0.8, split by pair
  *    class: planted CONTIGUOUS quotes (12 raw tokens ≥ w+n−1 → the
  *    winnowing guarantee, expected 10000), planted SCATTERED quotes
  *    (three 8-token chunks, each BELOW the w+n−1 run guarantee —
  *    recall here is the honest price of the lossy candidate stage),
  *    and organic pairs.
  *
  * Usage: `runMain graft.datagen.RecallMeasure <sfDir> <out.json> [budget]
  * [bands] [winnowW] [inc]`, e.g. `/tmp/testdata/sf1 /tmp/recall_sf1.json`
  * Planted ids: source + 2,000,000 (contiguous) / + 3,000,000 (scattered)
  * — disjoint from base ids (< 10⁶ per replica) and ScaleUp's r·10⁷
  * replica shifts.
  */
object RecallMeasure {

  private def rowsJsonStr(tag: String,
                          rows: Array[org.apache.spark.sql.Row]): String =
    rows.map(r =>
      s"""{"cls":"${r.getString(0)}","n_exact":${r.getLong(1)},""" +
        s""""n_hit":${r.getLong(2)},"recall_x10000":${r.getLong(3)}}""")
      .mkString(s""""$tag":[""", ",", "]")

  private def bandTally(exact: DataFrame, banded: DataFrame,
                        classCol: DataFrame => DataFrame): DataFrame = {
    val e = classCol(exact).select(col("id_a"), col("id_b"), col("__cls"),
      lit(1L).as("__w"))
    val b = banded.select(col("id_a"), col("id_b"), lit(2L).as("__w"))
    e.join(b, Seq("id_a", "id_b"), "left")
      .groupBy("__cls")
      .agg(count(lit(1)).as("n_exact"),
        count(b("__w")).as("n_hit"))
      .select(col("__cls").as("cls"), col("n_exact"), col("n_hit"),
        expr("(n_hit * 10000) div n_exact").as("recall_x10000"))
      .orderBy("cls")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outPath = if (args.length > 1) args(1) else "/tmp/graft_recall.json"
    // candidateBudgetPerPosting for the winnowed path — the knob that
    // prices the df cap's recall trade (measured sf1: budget 8 drops the
    // single high-df fingerprint of ~4% of planted quotes; see BASELINE.md
    // recall table for the budget→recall curve)
    val budget = if (args.length > 2) args(2).toLong else 8L
    // 4th arg: minhash band count (64 hashes fixed) — the recall knob the
    // per-j-band table prices: r = 64/bands rows per band, recall
    // 1 − (1 − j^r)^bands
    val bands = if (args.length > 3) args(3).toInt else 16
    // 5th arg: winnowing window w — the containment recall knob (r13
    // verdict #4): the guarantee threshold is a contiguous run of
    // w + n − 1 tokens, so shrinking w below chunkLen − n + 1 converts
    // the scattered-chunk class from probabilistic to guaranteed
    // (modulo the df cap), at ~2/(w+1) fingerprint density (cost)
    val winnowW = if (args.length > 4) args(4).toInt else 8
    // 6th arg "inc": also measure the INCREMENTAL banded probe
    // (containmentIncrementalBanded over a seeded winnow index) against
    // the exact incremental probe — the banded probe's adaptive cap is a
    // DIFFERENT cut than the batch generator's (Σ df over batch
    // fingerprints vs Σ df²·keys corpus-wide), so its recall is measured
    // separately, not inferred
    val incLeg = args.length > 5 && args(5) == "inc"
    val spark = graft.obs.GraftSession.local()

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select("doc_id", "text")
    val toks = split(col("text"), "\\s+")
    val contiguous = docs.where(col("doc_id") < 200 && size(toks) >= 14)
      .withColumn("doc_id", col("doc_id") + 2000000L)
      .withColumn("text", concat_ws(" ", slice(toks, 1, 12)))
    val scattered = docs.where(col("doc_id") < 200 && size(toks) >= 40)
      .withColumn("doc_id", col("doc_id") + 3000000L)
      .withColumn("text", concat_ws(" ",
        concat(slice(toks, 1, 8), slice(toks, 17, 8), slice(toks, 33, 8))))
    val aug = Pins.pin(docs.unionByName(contiguous).unionByName(scattered))

    // ---- minhash banding recall per 0.1-jaccard band (threshold 0.5)
    val exactJ = Pins.pin(Dedup.ngramJaccardPairs(aug, "text", "doc_id",
      n = 3, threshold = 0.5, maxCandidatesPerPosting = 0))
    val bandedJ = Pins.pin(Dedup.minhashVerifiedPairs(aug, "text", "doc_id",
      numHashes = 64, bands = bands, n = 3, threshold = 0.5)
      .select("id_a", "id_b"))
    val jRows = bandTally(exactJ, bandedJ,
      e => e.withColumn("__cls",
        format_string("j_%03d", expr("(cast(jaccard*10000 as bigint) div 1000) * 100"))))
      .collect()

    // ---- winnowed containment recall per pair class (threshold 0.8)
    val exactC = Pins.pin(Dedup.containmentPairs(aug, "text", "doc_id",
      n = 3, threshold = 0.8, maxCandidatesPerPosting = 0))
    val t0 = System.nanoTime()
    val bandedC = Pins.pin(Dedup.containmentVerifiedPairs(aug, "text", "doc_id",
      n = 3, w = winnowW, threshold = 0.8, candidateBudgetPerPosting = budget)
      .select("id_a", "id_b"))
    // the knob's COST side: wall-clock of the banded generator alone
    // (the pin materializes it), so the w table prices
    // recall AND the ~2/(w+1)-density posting volume it buys it with
    val bandedMs = (System.nanoTime() - t0) / 1000000L
    val cRows = bandTally(exactC, bandedC,
      e => e.withColumn("__cls",
        when(col("id_a") >= 3000000L && col("id_a") < 10000000L, "planted_scattered")
          .when(col("id_a") >= 2000000L && col("id_a") < 3000000L, "planted_contiguous")
          .otherwise("organic")))
      .collect()
    // missed-pair dump for attribution: a planted-contiguous miss where
    // id_b IS the quote's source would contradict the winnowing
    // guarantee (unless the adaptive df cap dropped every shared
    // fingerprint — the documented lossy trade); quote→non-source pairs
    // carry no guarantee at all
    exactC.join(bandedC, Seq("id_a", "id_b"), "left_anti")
      .write.mode("overwrite").parquet(outPath + ".missed.parquet")

    // ---- incremental banded probe recall (opt-in; corpus seeded once,
    // planted quote batches probe both indexes)
    val incJson = if (!incLeg) "" else {
      val store = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_recall_inc").toString)
      Dedup.seedGramIndex(store, "p", "d", "g", docs, "text", "doc_id")
      Dedup.seedWinnowIndex(store, "fp", "fd", "g2", docs, "text", "doc_id",
        w = winnowW)
      val batch = Pins.pin(contiguous.unionByName(scattered))
      val exactInc = Pins.pin(Dedup.containmentIncremental(store, "p", "d", "g",
          batch, "text", "doc_id", threshold = 0.8,
          maxProbeCandidatesPerPosting = 0)
        .select(col("probe_id").as("id_a"), col("id").as("id_b")))
      val t1 = System.nanoTime()
      val bandedInc = Pins.pin(Dedup.containmentIncrementalBanded(store, "fp", "fd",
          "g2", batch, "text", "doc_id", w = winnowW, threshold = 0.8,
          candidateBudgetPerPosting = budget)
        .select(col("probe_id").as("id_a"), col("id").as("id_b")))
      val incMs = (System.nanoTime() - t1) / 1000000L
      val rows = bandTally(exactInc, bandedInc,
        e => e.withColumn("__cls",
          when(col("id_a") >= 3000000L, "planted_scattered")
            .otherwise("planted_contiguous")))
        .collect()
      "," + rowsJsonStr("incremental_banded_by_class", rows) +
        s""","banded_inc_ms":$incMs"""
    }

    val json = "{" + rowsJsonStr("minhash_banding_by_jband", jRows) + "," +
      rowsJsonStr("containment_winnow_by_class", cRows) + incJson +
      s""","winnow_budget_per_posting":$budget,""" +
      s""""minhash_bands":$bands,"winnow_w":$winnowW,""" +
      s""""banded_containment_ms":$bandedMs,"sf_dir":"$srcDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
