package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.text.{Dedup, Packing, TextStats}
import graft.sim.Similarity

class TextSimSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog and runs far away now"),  // near dup of 1
    (4L, "completely different content about spark query engines and shuffles"),
    (5L, "el rapido zorro marron salta sobre el perro perezoso y corre lejos"))
    .toDF("doc_id", "text")

  test("GraftTokens kernel ≡ the Column reference chain on edge-case inputs") {
    // trim is ASCII-space-only SQL trim; split keeps trailing empties
    // (empty text → [""]); lowercase is SQL lower; accents class differs
    // by keepAccents — all four knobs exercised per variant.
    val edge = Seq(
      "  Mixed CASE  with   gaps  ", "", "   ", "t",
      "punct!@# marks?? stay-out 123", "acentos áÉíÓúñü aquí",
      "中文 mixed latin words", "tab\tand\nnewline separated",
      "a  b   c").toDF("text")
    for (ka <- Seq(true, false); de <- Seq(true, false)) {
      val kernel = edge.select(
        array_join(graft.functions.GraftFunctions.tokens(col("text"), ka, de),
          "").as("t")).as[String].collect().toSeq
      val refToks = graft.text.Dedup.tokensColReference(col("text"), ka)
      val refCol = if (de) filter(refToks, t => t =!= "") else refToks
      val ref = edge.select(array_join(refCol, "").as("t"))
        .as[String].collect().toSeq
      assert(kernel == ref, s"keepAccents=$ka dropEmpty=$de")
    }
    // null text propagates
    val n = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
      .select(graft.functions.GraftFunctions.tokens(col("text"), true, true).as("t"))
      .collect()
    assert(n.head.isNullAt(0))
  }

  test("exact dedup keeps the lowest id per normalized text") {
    val out = Dedup.exact(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("minhash pairs find exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", numHashes = 64,
      bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  // Shared staged corpus for the lsh-chain differential tests: real
  // sf0.001 documents ∪ the planted near-dup clones (the q_dedup_*
  // augmentation) — this corpus also carries NATURAL near-dup pairs
  // (measured: 42 pairs, all at exact Jaccard ≥ 0.8), so the tests pin
  // recall on real structure, not just the planted offsets.
  private def lshChainCorpus = {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d.unionByName(
      d.where(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 20000)
        .withColumn("text", concat(col("text"), lit(" graftmarker"))))
  }

  test("lsh chain pairs: LSH-candidate + exact verify ≡ prefix-filter exact all-pairs on the staged corpus") {
    // The corpus-level fact the q_dedup_lsh_clusters oracle rests on:
    // banding recall is complete for THIS corpus's true ≥0.5 pairs (all
    // sit at exact Jaccard ≥ 0.8, where 16-band recall ≈ 0.9998/pair) and
    // the exact verifier agrees bit-for-bit with the prefix-filter
    // topology. A regression (hash change, band change, corpus regen)
    // must fail THIS spec, not the driver's correctness gate.
    val aug = lshChainCorpus
    val lsh = Dedup.minhashVerifiedPairs(aug, "text", "doc_id",
        numHashes = 64, bands = 16, n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(aug, "text", "doc_id",
        n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact,
      s"lshOnly=${(lsh -- exact).take(5)} exactOnly=${(exact -- lsh).take(5)}")
    assert(exact.size >= 90, s"corpus lost its pair structure: ${exact.size}")
  }

  test("lsh chain end-to-end ≡ exact-pair chain: components and keep-best agree on every doc") {
    val aug = lshChainCorpus
    def chain(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.keepBestPerCluster(aug.select("doc_id", "n_chars"),
          Dedup.duplicateClusters(pairs), "doc_id", "n_chars")
        .select("doc_id", "cluster_id", "kept")
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val viaLsh = chain(Dedup.minhashVerifiedPairs(aug, "text", "doc_id",
      numHashes = 64, bands = 16, n = 3, threshold = 0.5))
    val viaExact = chain(Dedup.ngramJaccardPairs(aug, "text", "doc_id",
      n = 3, threshold = 0.5))
    assert(viaLsh.sameElements(viaExact))
    // planted clones never survive: the clone carries its original's
    // stale n_chars, so the (score DESC, id ASC) tie-break prefers a
    // smaller-id cluster member
    val byId = viaLsh.map(r => r._1 -> r).toMap
    (0L until 50L).foreach { i =>
      assert(!byId(i + 20000)._3, s"clone ${i + 20000} survived")
      assert(byId(i + 20000)._2 <= i, s"clone ${i + 20000} not clustered with ≤ $i")
    }
  }

  test("minhashLsh drops near-duplicates, keeps distinct docs") {
    val out = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(out.head == 1L)           // smallest id survives
    assert(!out.contains(2L))        // exact clone dropped
    assert(out.contains(4L) && out.contains(5L))
  }

  test("simhash: identical texts hash equal; near-dups within small hamming") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <= 12)
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(4L)) > 12)
  }

  test("ngram jaccard pairs: exact dup scores 1.0") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.get((1L, 3L)).exists(j => j > 0.5 && j < 1.0))
  }

  test("duplicateClusters: transitive chains merge, min-id representative") {
    // chain 1-2-3 (1~2, 2~3 but NOT 1~3) + isolated pair 10-11 + singleton edge-less 99
    // the label rounds themselves: duplicateClusters contracts a list
    // this small in one task and runs none
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = labels(Dedup.labelRounds(pairs)._1)
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(labels(Dedup.duplicateClusters(pairs)) == clusters)
    // a longer path exercises more than one propagation round
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val c2 = Dedup.labelRounds(chain)._1.collect().map(_.getLong(1)).distinct.toSeq
    assert(c2 == Seq(1L))
    assert(labels(Dedup.duplicateClusters(chain)) == labels(Dedup.labelRounds(chain)._1))
    // non-convergence THROWS instead of returning mis-split components
    // (after 2 rounds pointer-jump reach is 6 hops < the chain's 8)
    val e = intercept[RuntimeException] {
      Dedup.labelRounds(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("fuzzyContaminationIncremental: probe over seeded stores equals the one-shot form") {
    val src = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (200 to 230).map(i => s"v$i").mkString(" ")
    val corpus = Seq((1L, src), (2L, other),
      (3L, (100 to 130).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val suite1 = Seq((900L, src + " edited")).toDF("doc_id", "text")
    val suite2 = Seq((901L, other), (902L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_dc_inc_spec").toString)
    Dedup.seedBandIndex(store, "bands", corpus, "text", "doc_id")
    Dedup.seedMinhashSignatures(store, "sigs", corpus, "text", "doc_id")
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for (suite <- Seq(suite1, suite2)) {
      val oneShot = edges(Dedup.fuzzyContamination(corpus, "text", "doc_id",
        suite, "text", "doc_id", threshold = 0.5))
      val inc = edges(Dedup.fuzzyContaminationIncremental(store, "bands", "sigs",
        suite, "text", "doc_id", threshold = 0.5))
      assert(inc == oneShot)
    }
    // the second suite's exact-copy item flags doc 2; nothing flags doc 3
    val inc2 = edges(Dedup.fuzzyContaminationIncremental(store, "bands", "sigs",
      suite2, "text", "doc_id", threshold = 0.5))
    assert(inc2 == Seq((2L, 901L)))
  }

  test("exactIncremental: store flags batch dups map-only, registers survivors, replay remembers") {
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_inc").toString)
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("id", "text")
    val seeded = Dedup.exactIncremental(store, "s", corpus, "text", "id")
    assert(seeded.where($"dup_of_corpus").count() == 0)
    assert(seeded.where($"kept").count() == 2) // first call seeds: all register
    val batch = Seq(
      (10L, "ALPHA   beta gamma"), // normalizes onto corpus doc 1
      (11L, "zeta eta"), (12L, "zeta  ETA"), // within-batch pair: 11 wins
      (13L, "a unique new doc")).toDF("id", "text")
    val out = Dedup.exactIncremental(store, "s", batch, "text", "id")
      .select("id", "dup_of_corpus", "kept")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    assert(out == Set((10L, true, false), (11L, false, true),
      (12L, false, false), (13L, false, true)))
    // kept rows registered: the store is the memory, a replayed batch is all dups
    val replay = Dedup.exactIncremental(store, "s", batch, "text", "id")
    assert(replay.where($"dup_of_corpus").count() == 4)
    assert(replay.where($"kept").count() == 0)
    // the store carries one row per distinct fingerprint: 2 corpus + 2 survivors
    assert(store.read("s").count() == 4)
  }

  test("minhashIncremental: near-dup of stored corpus flagged; survivor visible to next batch") {
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_inc_mh").toString)
    val corpus = docs.withColumnRenamed("doc_id", "id")
    Dedup.seedMinhashSignatures(store, "s", corpus, "text", "id")
    assert(store.read("s").count() == 5) // seeding never dedups
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away home today"), // near-dup of 1
      (11L, "entirely novel subject matter regarding distributed columnar executions maybe"),
      (12L, "entirely novel subject matter regarding distributed columnar executions today")) // near-dup of 11
      .toDF("id", "text")
    val out = Dedup.minhashIncremental(store, "s", batch, "text", "id", threshold = 0.5)
      .select("id", "dup_of_corpus", "kept")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    // 10 hits the corpus; 11 is new and wins its within-batch pair with 12
    assert(out == Set((10L, true, false), (11L, false, true), (12L, false, false)))
    // 11's signature registered → a near-dup in the NEXT batch is a corpus dup
    val batch2 = Seq(
      (20L, "entirely novel subject matter regarding distributed columnar executions never"))
      .toDF("id", "text")
    val out2 = Dedup.minhashIncremental(store, "s", batch2, "text", "id", threshold = 0.5)
    assert(out2.where($"dup_of_corpus").count() == 1)
  }

  test("minhashIncremental: store on a session whose registry never saw a " +
      "kernel, batch on another — the corpus probe still resolves") {
    // the stored signatures are read (and the probe plan analysed) under
    // the store's session; the kernels must not depend on its registry
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_eq_positions"))
    val store = new graft.store.TableStore(fresh,
      java.nio.file.Files.createTempDirectory("graft_inc_mh_fresh").toString)
    Dedup.seedMinhashSignatures(store, "s", docs.withColumnRenamed("doc_id", "id"),
      "text", "id")
    assert(!fresh.catalog.functionExists("graft_eq_positions"))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away home"), // resend of 1
      (11L, "entirely novel subject matter regarding distributed columnar executions maybe"))
      .toDF("id", "text")
    val out = Dedup.minhashIncremental(store, "s", batch, "text", "id")
      .select("id", "dup_of_corpus").as[(Long, Boolean)].collect().toSet
    assert(out == Set((10L, true), (11L, false)))
  }

  test("minhash corpus probe is map-only: zero shuffle Exchanges on the stored side") {
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_inc_mh0").toString)
    Dedup.seedMinhashSignatures(store, "s", docs.withColumnRenamed("doc_id", "id"),
      "text", "id")
    // the shared incremental body's corpus probe, under minhashIncremental's signature
    val sig = Dedup.minhashSig(numHashes = 64, bands = 16, threshold = 0.5)
    val batchKeyed = sig.side(
      Dedup.withSignature(Seq((10L, "the quick brown fox jumps over the lazy dog and runs far away"))
        .toDF("id", "text"), "text", 64).select($"id", $"__sig".as("sig")), "new")
    val probe = sig.corpusHits(store.read("s"), batchKeyed, broadcast)
    assert(probe.collect().nonEmpty) // finalize (invariant 8), and it finds doc 1
    // stored signatures stream: explode→broadcast-join→filter is narrow
    assert(graft.ops.Scale.countExchanges(probe) == 0)
  }

  test("duplicateClusters converges in log rounds on a 20-hop chain") {
    // path 1-2-...-21 (diameter 20): plain neighbor-min propagation needs
    // 20 rounds + confirm; pointer jumping reaches 2·(r+1) per round
    // (2, 6, 14, 30...) → labels settle in 4 rounds, +1 zero-change sweep
    val chain = (1L until 21L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (clusters, rounds) = Dedup.labelRounds(chain, maxIter = 7)
    val out = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (1L to 21L).map(_ -> 1L).toMap)
    assert(rounds <= 5, s"expected log-round convergence, took $rounds")
    assert(Dedup.duplicateClusters(chain).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == out)
  }

  test("ngram jaccard: exact-boundary threshold pair survives the size filter") {
    // |A| = 11 grams ⊂ |B| = 20 grams → J = 11/20 = 0.55 exactly; the
    // double repr of 0.55 overshoots, so an unslacked size filter would
    // reject 20·0.55 ≤ 11. 13 tokens → 11 distinct trigrams (subset doc),
    // 22 tokens → 20 trigrams (superset doc with distinct continuation).
    val base = (1 to 13).map(i => s"w$i").mkString(" ")
    val sup = base + " " + (14 to 22).map(i => s"x$i").mkString(" ")
    val d = Seq((1L, base), (2L, sup)).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id", n = 3, threshold = 0.55)
      .collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 0.55)
  }

  test("chunkAssignments: exact prefix offsets, independent of partition count") {
    val d = (1L to 100L).map(i => (i, (i % 7 + 1).toInt)).toDF("id", "n_tok")
    def run(parts: Int) = Packing.chunkAssignments(
        TestSpark.withShufflePartitions(d, parts), "id", "n_tok", 16)
      .select("id", "tok_start", "chunk_first", "chunk_last")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val one = run(1)
    assert(run(7) == one && run(13) == one)
    // exact prefix sums + span arithmetic vs a sequential reference
    var cum = 0L
    val expected = (1L to 100L).map { i =>
      val n = (i % 7 + 1)
      val start = cum; cum += n
      (i, start, start / 16, math.max((start + n - 1) / 16, start / 16))
    }
    assert(one == expected)
  }

  test("chunkManifest: spans tile chunks exactly and sum to each doc's tokens") {
    val d = (1L to 100L).map(i => (i, (i % 7).toInt)).toDF("id", "n_tok")
    val m = Packing.chunkManifest(TestSpark.withShufflePartitions(d, 5), "id", "n_tok", 16)
      .select("id", "chunk_id", "start_in_chunk", "end_in_chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // per-doc coverage == its token count; zero-token docs emit nothing
    val perDoc = m.groupBy(_._1).view.mapValues(_.map(t => t._4 - t._3).sum).toMap
    val expected = (1L to 100L).map(i => i -> (i % 7)).filter(_._2 > 0)
      .map { case (k, v) => k -> v }.toMap
    assert(perDoc == expected)
    // per-chunk tiling: spans chain 0 → … → 16 (last chunk ends at the
    // corpus total mod 16)
    val total = (1L to 100L).map(_ % 7).sum // 297
    m.groupBy(_._2).foreach { case (c, rows) =>
      val spans = rows.sortBy(_._3).toSeq
      assert(spans.head._3 == 0L)
      spans.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 == b._3, s"gap in chunk $c")
        case _ =>
      }
      if (c < total / 16) assert(spans.last._4 == 16L)
      else assert(spans.last._4 == (total % 16).toLong)
    }
  }

  test("thresholdCurve: hand-computed bands, pair and doc counts, layout independent") {
    // A (13 tokens, 11 trigrams), A' exact copy, S superset (20 trigrams):
    // J(A,S) = J(A',S) = 11/20 = 0.55 -> band 5; J(A,A') = 1.0 -> band 10
    val base = (1 to 13).map(i => s"w$i").mkString(" ")
    val sup = base + " " + (14 to 22).map(i => s"x$i").mkString(" ")
    val d = Seq((1L, base), (2L, base), (3L, sup),
      (4L, (50 to 70).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.thresholdCurve(df, "text", "doc_id", n = 3, minThreshold = 0.4)
        .select("band", "n_pairs", "n_docs")
        .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    val out = run(d)
    assert(out == Seq((5, 2L, 3L), (10, 1L, 2L)))
    assert(run(d.repartition(7)) == out)
  }

  test("shardAssignments: md5-order placement, balanced shards, layout independent") {
    val d = (1L to 103L).toDF("id")
    def run(parts: Int) = Packing.shardAssignments(
        TestSpark.withShufflePartitions(d, parts), "id", nShards = 8)
      .select("id", "shard", "shard_pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val one = run(1)
    assert(run(5) == one && run(16) == one)
    // sequential reference: rank in md5("id|42") order, round-robin shard
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(i: Long) = md.digest(s"$i|42".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ranked = (1L to 103L).sortBy(i => (key(i), i)).zipWithIndex
    val expected = ranked.map { case (i, r) => (i, r % 8, r.toLong / 8) }
      .sortBy(_._1).toSeq
    assert(one == expected)
    // round-robin balance: shard sizes differ by at most 1 (103 = 8*12+7)
    val sizes = one.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.values.max - sizes.values.min <= 1)
    // (shard, shard_pos) is a dense injective placement
    assert(one.map(t => (t._2, t._3)).distinct.size == 103)
  }

  test("jsonl shard export round-trips placement, order inside each shard file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val d = (1L to 40L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    Packing.exportJsonlShards(d, "doc_id", nShards = 4, outDir = dir)
    val back = Packing.readJsonlShards(spark, dir, d.schema)
    // placement round-trips exactly
    val expect = Packing.shardAssignments(d, "doc_id", nShards = 4)
      .select("doc_id", "shard", "shard_pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = back.select(col("doc_id"), col("shard").cast("int"), col("shard_pos"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expect)
    assert(back.select("shard").distinct().count() == 4)
    // line order inside each shard file is shard_pos order (loader contract)
    for (sd <- new java.io.File(dir).listFiles() if sd.getName.startsWith("shard=")) {
      val lines = sd.listFiles().filter(_.getName.endsWith(".json"))
        .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
      val poss = lines.map(l =>
        "\"shard_pos\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).toSeq
      assert(poss == poss.sorted, s"unordered lines in ${sd.getName}")
    }
  }

  test("lengthBuckets: ladder assignment, grouped ranks, padding, layout independent") {
    // spans every path: below/at/above each ladder rung, exact boundaries
    // (16, 32, 64), truncation (65, 80, 99), multi-batch buckets
    val counts = Seq(1, 5, 16, 17, 31, 32, 33, 64, 65, 99,
      10, 20, 40, 80, 16, 32, 64, 2, 63, 50)
    val d = counts.zipWithIndex.map { case (n, i) => ((i + 1).toLong, n) }
      .toDF("id", "n_tok")
    def run(parts: Int) = Packing.lengthBuckets(TestSpark.withShufflePartitions(d, parts),
        "id", "n_tok", minBucket = 16, maxBucket = 64, maxTokensPerBatch = 256)
      .select("id", "bucket_len", "seq_in_bucket", "batch_in_bucket",
        "pad_tokens", "truncated")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getBoolean(5)))
      .sortBy(_._1).toSeq
    val one = run(1)
    assert(run(7) == one && run(13) == one)
    // sequential reference
    def bucketOf(n: Int) = {
      val e = math.min(n, 64); if (e <= 16) 16 else if (e <= 32) 32 else 64
    }
    val byBucket = counts.zipWithIndex
      .map { case (n, i) => ((i + 1).toLong, n) }
      .groupBy { case (_, n) => bucketOf(n) }
    val expected = counts.zipWithIndex.map { case (n, i) =>
      val id = (i + 1).toLong
      val b = bucketOf(n)
      val seq = byBucket(b).map(_._1).sorted.indexOf(id).toLong
      val batchSize = math.max(1, 256 / b)
      (id, b, seq, seq / batchSize, b - math.min(n, 64), n > 64)
    }.sortBy(_._1)
    assert(one == expected)
    // bucket-64 holds 9 docs at batch size 4 → batches 0,0,0,0,1,1,1,1,2
    val b64 = one.filter(_._2 == 64).sortBy(_._3).map(_._4)
    assert(b64 == Seq(0L, 0L, 0L, 0L, 1L, 1L, 1L, 1L, 2L))
  }

  test("fuzzyContamination: edited bench item flags its source, clean docs pass, min witness") {
    val src = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, src),                                          // the contaminated source
      (2L, (100 to 130).map(i => s"u$i").mkString(" ")))  // unrelated
      .toDF("doc_id", "text")
    val bench = Seq(
      (900L, src + " edited"),  // lightly-edited copy of doc 1
      (901L, src))              // exact copy of doc 1
      .toDF("doc_id", "text")
    val out = Dedup.fuzzyContamination(corpus, "text", "doc_id",
        bench, "text", "doc_id",
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // doc 1 leaks BOTH bench items (the edge list reports each); the
    // unrelated doc stays clean
    assert(out == Seq((1L, 900L), (1L, 901L)))
  }

  test("contaminationReport flags benchmark-overlapping docs, not clean ones") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words then the quick brown fox jumps over the lazy dog tonight and more"),
      (2L, "completely unrelated content about distributed query engines and shuffles"),
      (3L, "the quick brown fox appears briefly here")) // shares a 4-token prefix but NO full 5-gram
      .toDF("doc_id", "text")
    val flagged = Dedup.contaminationReport(corpus, "text", "doc_id", bench, "text",
        n = 5, minOverlap = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(1L) && flagged(1L) >= 2)
    assert(!flagged.contains(2L) && !flagged.contains(3L))
  }

  test("ngram prefix filtering is recall-complete vs brute force (random corpora)") {
    val rnd = new scala.util.Random(42)
    val docs = (1L to 40L).map { i =>
      (i, Seq.fill(5 + rnd.nextInt(20))("tok" + rnd.nextInt(30)).mkString(" "))
    }
    def grams(s: String): Set[String] =
      s.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val gs = docs.map { case (i, s) => i -> grams(s) }.toMap
    val df = docs.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.55, 0.7)) {
      val got = Dedup.ngramJaccardPairs(df, "text", "doc_id", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        inter = (gs(a) & gs(b)).size
        uni = (gs(a) | gs(b)).size
        j = math.floor(inter.toDouble / uni * 10000 + 0.5) / 10000
        if j >= t
      } yield (a, b)).toSet
      assert(got == expect, s"threshold $t: got ${got.size}, expected ${expect.size}")
    }
  }

  test("containmentPairs: quote is contained in its source, not vice versa") {
    val page = (1 to 40).map(i => "word" + i).mkString(" ")
    val quote = (1 to 12).map(i => "word" + i).mkString(" ") // prefix quote
    val d = Seq((1L, page), (2L, quote),
      (3L, "unrelated content about entirely different things altogether today"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((2L, 1L, 1.0))) // quote→page only; page→quote is ~0.26
  }

  test("winnow kernel: fingerprints ⊆ gram set; shared run guarantees a shared fingerprint") {
    graft.functions.GraftFunctions.register(spark)
    val page = (1 to 40).map(i => "word" + i).mkString(" ")
    val quote = (1 to 12).map(i => "word" + i).mkString(" ")
    val d = Seq((1L, page), (2L, quote)).toDF("doc_id", "text")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        expr("graft_ngram_hashes(toks, 3)").as("gh"),
        expr("graft_winnow_hashes(toks, 3, 8)").as("fp"))
    val rows = d.collect().map(r =>
      r.getLong(0) -> (r.getSeq[Long](1).toSet, r.getSeq[Long](2).toSeq)).toMap
    // fingerprints are positional gram hashes → members of the distinct set
    rows.values.foreach { case (gset, fp) =>
      assert(fp.nonEmpty && fp.toSet.subsetOf(gset))
      assert(fp == fp.sorted && fp.distinct == fp)
    }
    // shared contiguous run of 12 ≥ w + n − 1 = 10 tokens → shared fingerprint
    assert((rows(1L)._2.toSet & rows(2L)._2.toSet).nonEmpty)
    // density: ~2/(w+1) of grams, far below the full set for a 40-token page
    assert(rows(1L)._2.size < rows(1L)._1.size / 2)
  }

  test("containmentVerifiedPairs: quote recovered with exact value; dfCap drops boilerplate buckets") {
    val page = (1 to 40).map(i => "word" + i).mkString(" ")
    val quote = (1 to 12).map(i => "word" + i).mkString(" ")
    val d = Seq((1L, page), (2L, quote),
      (3L, "unrelated content about entirely different things altogether today"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentVerifiedPairs(d, "text", "doc_id",
        n = 3, w = 8, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((2L, 1L, 1.0))) // same answer as the exact path
    // dfCap = 1 drops every shared fingerprint bucket → no candidates at all
    val capped = Dedup.containmentVerifiedPairs(d, "text", "doc_id",
        n = 3, w = 8, threshold = 0.8, dfCap = 1)
      .count()
    assert(capped == 0)
  }

  test("containmentVerifiedPairs ⊆ exact pairs; contiguous-run pairs all recovered (random corpora)") {
    val rnd = new scala.util.Random(11)
    // random pages + planted contiguous quotes (≥ 10 tokens each)
    val pages = (1L to 25L).map { i =>
      (i, Seq.fill(20 + rnd.nextInt(20))("tok" + rnd.nextInt(40)).mkString(" "))
    }
    val quotes = pages.take(8).map { case (i, s) =>
      (i + 100L, s.split(" ").take(10 + rnd.nextInt(5)).mkString(" "))
    }
    val df = (pages ++ quotes).toDF("doc_id", "text")
    val exact = Dedup.containmentPairs(df, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lossy = Dedup.containmentVerifiedPairs(df, "text", "doc_id",
        n = 3, w = 8, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lossy.subsetOf(exact)) // verification is exact — no false pairs
    // every planted contiguous quote→source pair is guaranteed recovered
    quotes.foreach { case (qid, _) =>
      assert(lossy.contains((qid, qid - 100L)), s"quote $qid missed")
    }
  }

  /** Driver-side reference of [[Dedup.containmentVerifiedPairs]] over the
    * collected prepped kernel rows: the same adaptive df cap, then every
    * ordered pair `(a, b)`, a ≠ b, sharing a kept fingerprint with
    * `|B| ≥ t·|A| − 1e-9` and `|A∩B| / |A| ≥ t`.
    * Value: (4-dp containment, number of kept fingerprints shared). */
  private def containmentReference(df: org.apache.spark.sql.DataFrame,
      threshold: Double, dfCap: Long = 4096, perPosting: Long = 8,
      minBudget: Long = 2000000L)
      : Map[(Long, Long), (Double, Int)] = {
    val rows = Dedup.preppedKernelFrame(df, "text", "doc_id", 3, w = 8).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    val grams = rows.map(r => r._1 -> r._2.toSet).toMap
    val holders = rows.toSeq.flatMap { case (id, _, fp) => fp.map(_ -> id) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dfOf = holders.map { case (k, ids) => k -> ids.size.toLong }
    val hist = dfOf.values.groupBy(identity)
      .map { case (d, ds) => d -> ds.size.toLong }.toSeq.sortBy(_._1)
    val budget = math.max(perPosting * hist.map { case (d, k) => d * k }.sum, minBudget)
    // every df whose cumulative d²·k volume fits the budget
    val fitting = hist.scanLeft((0L, 0L)) { case ((_, cum), (d, k)) => (d, cum + d * d * k) }
      .tail.collect { case (d, cum) if cum <= budget => d }
    val capped = math.min((hist.head._1 +: fitting.filter(_ <= dfCap)).max, dfCap)
    val kept = dfOf.keys.filter(dfOf(_) <= capped)
    kept.toSeq.flatMap(k => for {
      a <- holders(k); b <- holders(k) if a != b
      if grams(b).size >= grams(a).size * threshold - 1e-9
      c = (grams(a) & grams(b)).size.toDouble / grams(a).size
      if c >= threshold
    } yield (a, b, math.floor(c * 10000.0 + 0.5) / 10000.0))
      .groupBy(p => (p._1, p._2)).map { case (ab, ps) => ab -> (ps.head._3, ps.size) }
  }

  test("containmentVerifiedPairs ≡ a driver-side reference: multi-fingerprint " +
      "pairs, size-filter boundary, budget-bound cap") {
    val rnd = new scala.util.Random(23)
    def words(n: Int, tag: String) = Seq.fill(n)(tag + rnd.nextInt(100000))
    val pages = (1L to 30L).map(i => i -> words(40, "p"))
    // one-token edits share most of their page's fingerprints
    val edits = pages.take(10).map { case (i, ws) => (i + 100L, ws.updated(20, "edit")) }
    // size-filter boundary: 10 trigrams ⊇ 8 trigrams → |B| = 0.8·|A| and
    // containment exactly 0.8, on a 10-token (= w + n − 1) shared run
    val edge = Seq(200L -> words(12, "e"))
    val edgeQuote = Seq(201L -> edge.head._2.take(10))
    // a boilerplate tail on 16 pages, and 12 identical short docs whose
    // every fingerprint has df 12: a tight budget caps both
    val tail = words(12, "b")
    val boiler = (300L to 315L).map(i => i -> (words(8, "q") ++ tail))
    val same = words(12, "s")
    val ident = (400L to 411L).map(_ -> same)
    val df = (pages ++ edits ++ edge ++ edgeQuote ++ boiler ++ ident)
      .map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text")
    // long pages with one-token-edit copies share most of their
    // fingerprints, so their arrays are fetched by id; short closed-
    // vocabulary docs with quoted openings share few, so theirs ride the
    // bucket
    val long = (1L to 8L).map(i => i -> words(200, "l"))
    val longDf = (long ++ long.map { case (i, ws) => (i + 100L, ws.updated(100, "edit")) } :+
        (200L -> long.head._2.slice(50, 80)))
      .map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text")
    val closed = (0L until 200L).map(i => i -> Seq.fill(10 + rnd.nextInt(31))(s"v${rnd.nextInt(30)}"))
    val closedDf = (closed ++ closed.take(20).map { case (i, ws) => (i + 1000L, ws.take(12)) })
      .map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text")
    val cases = Seq(
      ("t=0.8", df, 0.8, 8L, 2000000L),
      ("t=0.5", df, 0.5, 8L, 2000000L),
      ("budget-bound", df, 0.5, 1L, 1L),
      ("long pages", longDf, 0.8, 8L, 2000000L),
      ("closed vocabulary", closedDf, 0.8, 8L, 2000000L))
    val runs = cases.map { case (name, corpus, t, perPosting, minBudget) =>
      val ref = containmentReference(corpus, t, perPosting = perPosting,
        minBudget = minBudget)
      val out = Dedup.containmentVerifiedPairs(corpus, "text", "doc_id", n = 3, w = 8,
          threshold = t, candidateBudgetPerPosting = perPosting,
          minCandidateBudget = minBudget)
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got.size == got.distinct.size, name)
      assert(got.toSet == ref.map { case ((a, b), (c, _)) => (a, b, c) }.toSet,
        s"$name: got ${got.size}, reference ${ref.size}")
      (name -> ref, name -> out.queryExecution.executedPlan.toString.contains("hashpartitioning(__id"))
    }
    val refs = runs.map(_._1).toMap
    val fetched = runs.map(_._2).toMap
    assert(fetched("long pages") && !fetched("closed vocabulary"), fetched)
    assert(refs("long pages").nonEmpty && refs("closed vocabulary").nonEmpty)
    // the fixture exercises what it claims: pairs found in several buckets,
    // the boundary pair kept, the tight cap losing pairs, and a doc whose
    // every fingerprint is capped (the identical docs) yielding none
    assert(refs("t=0.8").values.exists(_._2 > 1))
    assert(refs("t=0.8").get((200L, 201L)).map(_._1).contains(0.8))
    val (loose, tight) = (refs("t=0.5").keySet, refs("budget-bound").keySet)
    assert(tight.subsetOf(loose) && tight.size < loose.size)
    val identPairs = for (a <- 400L to 411L; b <- 400L to 411L if a != b) yield (a, b)
    assert(identPairs.forall(loose.contains) && !identPairs.exists(tight.contains))
  }

  test("containment prefix filtering is recall-complete vs brute force (random corpora)") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 40L).map { i =>
      (i, Seq.fill(5 + rnd.nextInt(25))("tok" + rnd.nextInt(25)).mkString(" "))
    }
    def grams(s: String): Set[String] =
      s.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val gs = docs.map { case (i, s) => i -> grams(s) }.toMap
    val df = docs.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.7, 0.8, 0.9)) {
      val got = Dedup.containmentPairs(df, "text", "doc_id", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a != b
        c = (gs(a) & gs(b)).size.toDouble / gs(a).size // unrounded gate
        if c >= t
      } yield (a, b)).toSet
      assert(got == expect, s"threshold $t: got ${got.size}, expected ${expect.size}")
    }
  }

  test("recallReport: counts match a brute-force tally; deterministic " +
      "regime reports full recall; banded never exceeds exact") {
    val rnd = new scala.util.Random(23)
    // 20 random pages (>= 14 tokens — whole-doc runs clear the winnowing
    // guarantee) + 6 exact clones: the j=1 / c=1 deterministic regime
    val pages = (1L to 20L).map { i =>
      (i, Seq.fill(14 + rnd.nextInt(12))("tok" + rnd.nextInt(40)).mkString(" "))
    }
    val clones = pages.take(6).map { case (i, s) => (i + 100L, s) }
    val df = (pages ++ clones).toDF("doc_id", "text")
    val rep = Dedup.recallReport(df, "text", "doc_id",
        jaccardThreshold = 0.9, containThreshold = 0.9)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // brute-force truth over 3-gram sets
    def grams(s: String): Set[String] =
      s.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val gs = (pages ++ clones).map { case (i, s) => i -> grams(s) }.toMap
    val ids = (pages ++ clones).map(_._1)
    val nJ = (for {
      a <- ids; b <- ids if a < b
      j = (gs(a) & gs(b)).size.toDouble / (gs(a) | gs(b)).size
      if math.floor(j * 10000 + 0.5) / 10000 >= 0.9
    } yield 1).size.toLong
    val nC = (for {
      a <- ids; b <- ids if a != b
      if (gs(a) & gs(b)).size.toDouble / gs(a).size >= 0.9
    } yield 1).size.toLong
    assert(nJ >= 6 && nC >= 12) // the planted clones are in both truths
    assert(rep("minhash_banding") == ((nJ, nJ, nJ, 10000L)))
    assert(rep("containment_winnow") == ((nC, nC, nC, 10000L)))
    // banded ⊆ exact by the shared verify gate: n_banded == n_hit always
    rep.values.foreach { case (_, nb, nh, _) => assert(nb == nh) }
  }

  test("exact all-pairs generators fail fast on gram-saturated corpora " +
      "(Σdf² candidate budget); override proceeds") {
    // 12 identical docs: every gram's df = 12, so Σdf²/postings = 12 —
    // above a budget of 4, the quadratic-corpus signature in miniature
    val txt = (1 to 20).map(i => "word" + i).mkString(" ")
    val d = (1L to 12L).map(i => (i, txt)).toDF("doc_id", "text")
    for (run <- Seq(
        () => Dedup.ngramJaccardPairs(d, "text", "doc_id",
          maxCandidatesPerPosting = 4),
        () => Dedup.containmentPairs(d, "text", "doc_id",
          maxCandidatesPerPosting = 4))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("candidate volume") &&
        e.getMessage.contains("VerifiedPairs"), e.getMessage)
    }
    // the guard fires at FRAME-BUILD time, before any candidate shuffle —
    // intercept above proves it (no .collect() was reached)
    // override: budget <= 0 disables; the exact result is still produced
    val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id",
      maxCandidatesPerPosting = 0)
    assert(pairs.count() == 12L * 11 / 2) // identical docs: all pairs, J = 1
    // default budget (64) clears a healthy corpus (distinct docs, df ≈ 1)
    val healthy = (1L to 10L).map(i =>
      (i, (1 to 15).map(j => s"t${i}_$j").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(healthy, "text", "doc_id").count() == 0)
  }

  test("containmentIncremental over a seeded store equals the one-shot batch→corpus slice") {
    val corpus = Seq(
      (1L, (1 to 40).map(i => "word" + i).mkString(" ")),
      (2L, "some other totally different page about streaming joins and state"),
      (3L, (1 to 30).map(i => "tok" + (i % 9)).mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, (1 to 12).map(i => "word" + i).mkString(" ")), // quote of doc 1
      (101L, "entirely unrelated brand new content never indexed before"),
      (102L, (5 to 16).map(i => "word" + i).mkString(" "))) // interior quote of doc 1
      .toDF("doc_id", "text")
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_cont_inc").toString)
    Dedup.seedGramIndex(store, "postings", "dfs", "grams", corpus, "text", "doc_id")
    val inc = Dedup.containmentIncremental(store, "postings", "dfs", "grams",
        batch, "text", "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // one-shot over corpus ∪ batch, restricted to the batch→corpus direction
    val oneShot = Dedup.containmentPairs(corpus.unionByName(batch),
        "text", "doc_id", threshold = 0.8)
      .where(col("id_a") >= 100L && col("id_b") < 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == oneShot)
    assert(inc.contains((100L, 1L, 1.0)) && inc.contains((102L, 1L, 1.0)))
    assert(!inc.exists(_._1 == 101L)) // unseen grams hit nothing
    // df DELTA-MERGES across seeds: a second batch sharing doc 1's grams
    // must raise their df to 2 (a PK-replace would reset it to 1 and
    // silently void the rare-first prefix contract)
    assert(store.read("dfs").agg(max("df")).as[Long].head() == 1L)
    Dedup.seedGramIndex(store, "postings", "dfs", "grams",
      Seq((50L, (1 to 20).map(i => "word" + i).mkString(" ")))
        .toDF("doc_id", "text"), "text", "doc_id")
    assert(store.read("dfs").agg(max("df")).as[Long].head() == 2L)
  }

  test("containmentIncremental probe guard fails fast on gram-saturated " +
      "stores; override proceeds (the sf10 ENOSPC regression guard)") {
    val txt = (1 to 20).map(i => "word" + i).mkString(" ")
    val corpus = (1L to 12L).map(i => (i, txt)).toDF("doc_id", "text")
    val batch = (100L to 105L).map(i => (i, txt)).toDF("doc_id", "text")
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_probe_guard").toString)
    Dedup.seedGramIndex(store, "p", "d", "g", corpus, "text", "doc_id")
    // every prefix gram of the batch has corpus df 12 → predicted
    // candidates ≈ 2.6 per batch posting: above a budget of 1
    val e = intercept[IllegalArgumentException](
      Dedup.containmentIncremental(store, "p", "d", "g", batch,
        "text", "doc_id", maxProbeCandidatesPerPosting = 1))
    assert(e.getMessage.contains("probe candidate volume"), e.getMessage)
    // override (<= 0) and the 64 default both proceed; all 6×12
    // batch→corpus containments found, self-pairs structurally absent
    for (budget <- Seq(0L, 64L)) {
      val got = Dedup.containmentIncremental(store, "p", "d", "g", batch,
        "text", "doc_id", maxProbeCandidatesPerPosting = budget)
      assert(got.count() == 72, s"budget $budget")
    }
  }

  test("containmentIncrementalBanded ⊆ exact probe; winnow-guaranteed " +
      "quotes recovered; wrong-index probes fail fast on schema") {
    val rnd = new scala.util.Random(41)
    val corpus = (1L to 30L).map { i =>
      (i, Seq.fill(20 + rnd.nextInt(10))("tok" + rnd.nextInt(60)).mkString(" "))
    }.toDF("doc_id", "text")
    // quotes: first 12 tokens of docs 1..5 (≥ w+n−1 = 10 → guaranteed
    // shared fingerprint with the source), plus one novel doc
    val batch = (1L to 5L).map { i =>
      (i + 100L, corpus.where(col("doc_id") === i)
        .select(concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 12)))
        .as[String].head())
    }.toDF("doc_id", "text")
      .unionByName(Seq((200L, "entirely novel content never seen before anywhere"))
        .toDF("doc_id", "text"))
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_inc_banded").toString)
    Dedup.seedGramIndex(store, "postings", "dfs", "grams", corpus, "text", "doc_id")
    Dedup.seedWinnowIndex(store, "fpost", "fdf", "grams2", corpus, "text", "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = rows(Dedup.containmentIncremental(store, "postings", "dfs",
      "grams", batch, "text", "doc_id", threshold = 0.8))
    val bandedP = rows(Dedup.containmentIncrementalBanded(store, "fpost", "fdf",
      "grams2", batch, "text", "doc_id", threshold = 0.8))
    // identical verify gate → banded is a subset of the recall-complete probe
    assert(bandedP.subsetOf(exact), (bandedP -- exact).toString)
    // the winnowing guarantee: every planted quote recovers its source at 1.0
    (1L to 5L).foreach(i => assert(bandedP.contains((i + 100L, i, 1.0)), s"quote $i"))
    assert(!bandedP.exists(_._1 == 200L))
    // fp df DELTA-MERGES across seeds (invariant 10d, winnow index form)
    val dfMax0 = store.read("fdf").agg(max("df")).as[Long].head()
    Dedup.seedWinnowIndex(store, "fpost", "fdf", "grams2",
      corpus.where(col("doc_id") === 1L), "text", "doc_id")
    assert(store.read("fdf").agg(max("df")).as[Long].head() >= dfMax0 + 1)
    // schema safety: the fp/gram key columns differ on purpose — probing
    // a winnow index with the exact probe (or vice versa) fails at
    // analysis instead of silently generating wrong candidates
    intercept[org.apache.spark.sql.AnalysisException](
      Dedup.containmentIncremental(store, "fpost", "fdf", "grams2",
        batch, "text", "doc_id").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      Dedup.containmentIncrementalBanded(store, "postings", "dfs", "grams",
        batch, "text", "doc_id").collect())
  }

  test("guard override ergonomics: a probe-guard trip switches to the " +
      "banded path at the same call site; raised budget gives identical pairs") {
    // the documented escape hatches must actually compose (r13 verdict #6)
    val txt = (1 to 20).map(i => "word" + i).mkString(" ")
    val corpus = (1L to 12L).map(i => (i, txt)).toDF("doc_id", "text")
    val batch = (100L to 105L).map(i => (i, txt)).toDF("doc_id", "text")
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_ergo").toString)
    Dedup.seedGramIndex(store, "p", "d", "g", corpus, "text", "doc_id")
    Dedup.seedWinnowIndex(store, "fp", "fd", "g2", corpus, "text", "doc_id")
    // 1. the gram-saturated corpus trips the recall-complete probe's guard
    val e = intercept[IllegalArgumentException](
      Dedup.containmentIncremental(store, "p", "d", "g", batch,
        "text", "doc_id", maxProbeCandidatesPerPosting = 1))
    assert(e.getMessage.contains("probe candidate volume"))
    // 2. escape hatch A: the banded probe at the same call site — volume
    // bounded by construction, every containment found (identical docs:
    // whole-doc shared runs, fingerprints shared corpus-wide, df 12 ≤ cap)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bandedP = rows(Dedup.containmentIncrementalBanded(store, "fp", "fd",
      "g2", batch, "text", "doc_id"))
    assert(bandedP.size == 72 && bandedP.forall(_._3 == 1.0))
    // 3. escape hatch B: raised budget (here: disabled) on the exact probe
    // — identical verified pairs on this under-budget-after-override corpus
    val exact = rows(Dedup.containmentIncremental(store, "p", "d", "g",
      batch, "text", "doc_id", maxProbeCandidatesPerPosting = 0))
    assert(exact == bandedP)
  }

  test("containmentIncremental through a replay's txn view: the index before " +
      "the batch, not a blanket self-pair filter (r13 advice)") {
    val corpus = Seq(
      (1L, (1 to 40).map(i => "word" + i).mkString(" ")),
      (2L, "some other page on a completely different unrelated topic"))
      .toDF("doc_id", "text")
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_excl").toString)
    Dedup.seedGramIndex(store, "p", "d", "g", corpus, "text", "doc_id")
    // the batch re-sends doc 1 VERBATIM (same id) and adds a quote of it
    val batch = Seq(
      (1L, (1 to 40).map(i => "word" + i).mkString(" ")),
      (100L, (1 to 12).map(i => "word" + i).mkString(" ")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the no-crash probe: the re-sent duplicate self-matches the earlier
    // corpus doc at 1.0 and IS flagged — a blanket self-pair filter would
    // wave it through into the clean output
    val plain = rows(Dedup.containmentIncremental(store, "p", "d", "g",
      batch, "text", "doc_id"))
    assert(plain == Set((1L, 1L), (100L, 1L)))
    // a crashed attempt of this batch seeded it through its txn view ...
    Dedup.seedGramIndex(store.txn("ck", 7), "p", "d", "g", batch, "text", "doc_id",
      appendOnly = true)
    // ... so the index now also holds the batch's own docs, and the quote
    // matches itself
    assert(rows(Dedup.containmentIncremental(store, "p", "d", "g",
      batch, "text", "doc_id")) == plain + ((100L, 100L)))
    // the replay's view reads the index as it was before the batch: the
    // no-crash pairs exactly, and its re-seeding writes nothing
    val replay = store.txn("ck", 7)
    assert(rows(Dedup.containmentIncremental(replay, "p", "d", "g",
      batch, "text", "doc_id")) == plain)
    val before = Seq("p", "d", "g").map(store.currentVersion)
    Dedup.seedGramIndex(replay, "p", "d", "g", batch, "text", "doc_id", appendOnly = true)
    assert(Seq("p", "d", "g").map(store.currentVersion) == before)
  }

  test("simhashIncremental: within-radius batch docs flagged against the " +
      "store (recall-complete), survivors registered for the next batch") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "completely different content about spark query engines and shuffles"))
      .toDF("doc_id", "text")
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_inc_sh").toString)
    Dedup.seedSimhashes(store, "shs", corpus, "text", "doc_id")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs far away now"), // near-dup of 1
      (101L, "a wholly novel page on streaming state stores and watermarks today"),
      (102L, "a wholly novel page on streaming state stores and watermarks now")) // near-dup of 101 WITHIN the batch
      .toDF("doc_id", "text")
    val got = Dedup.simhashIncremental(store, "shs", batch, "text", "doc_id",
        maxHamming = 10)
      .select("doc_id", "dup_of_corpus", "kept")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    assert(got == Set((100L, true, false), (101L, false, true),
      (102L, false, false))) // 102 loses within-batch to smaller id 101
    // the survivor registered: a replay of 101's text now flags as corpus dup
    val again = Dedup.simhashIncremental(store, "shs",
        Seq((200L, "a wholly novel page on streaming state stores and watermarks today"))
          .toDF("doc_id", "text"), "text", "doc_id", maxHamming = 10)
      .select("dup_of_corpus").as[Boolean].collect().toSeq
    assert(again == Seq(true))
    // corpus probe is map-only (the minhashIncremental contract): growing
    // the corpus must not change the exchange count
    def probeOn(n: Int) = {
      val c = (1L to n.toLong).map(i =>
        (i, (1 to 15).map(j => s"s${i}_$j").mkString(" "))).toDF("doc_id", "text")
      val st = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_inc_sh_plan").toString)
      Dedup.seedSimhashes(st, "shs", c, "text", "doc_id")
      Dedup.simhashIncremental(st, "shs",
        Seq((900L, (1 to 15).map(j => s"s3_$j").mkString(" "))).toDF("doc_id", "text"),
        "text", "doc_id")
    }
    val small = probeOn(4); val big = probeOn(16)
    small.collect(); big.collect()
    assert(graft.ops.Scale.countExchanges(small) ==
      graft.ops.Scale.countExchanges(big))
  }

  test("containmentIncrementalBanded shuffles are batch-sized: exchange " +
      "count is corpus-size-independent") {
    def seededProbe(nCorpusDocs: Int) = {
      val corpus = (1L to nCorpusDocs.toLong)
        .map(i => (i, (1 to 25).map(j => s"w${i}_$j").mkString(" ")))
        .toDF("doc_id", "text")
      val store = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_banded_plan").toString)
      Dedup.seedWinnowIndex(store, "fp", "fd", "g", corpus, "text", "doc_id")
      val batch = Seq((900L, (1 to 12).map(j => s"w3_$j").mkString(" ")))
        .toDF("doc_id", "text")
      Dedup.containmentIncrementalBanded(store, "fp", "fd", "g", batch,
        "text", "doc_id")
    }
    val small = seededProbe(5); val big = seededProbe(20)
    small.collect(); big.collect() // finalize (invariant 8)
    val (nS, nB) = (graft.ops.Scale.countExchanges(small),
      graft.ops.Scale.countExchanges(big))
    assert(nS == nB, s"corpus growth changed the shuffle count: $nS vs $nB")
    // every corpus table rides a broadcast probe; only batch-derived
    // subtrees (fp explode, candidate dedup) shuffle
    assert(nB <= 4, s"expected batch-sized shuffles only, got $nB")
  }

  test("containmentIncremental shuffles are batch-sized: exchange count is corpus-size-independent") {
    def seededProbe(nCorpusDocs: Int) = {
      val corpus = (1L to nCorpusDocs.toLong)
        .map(i => (i, (1 to 25).map(j => s"w${i}_$j").mkString(" ")))
        .toDF("doc_id", "text")
      val store = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_cont_plan").toString)
      Dedup.seedGramIndex(store, "p", "d", "g", corpus, "text", "doc_id")
      val batch = Seq((900L, (1 to 12).map(j => s"w3_$j").mkString(" ")))
        .toDF("doc_id", "text")
      Dedup.containmentIncremental(store, "p", "d", "g", batch, "text", "doc_id")
    }
    val small = seededProbe(5); val big = seededProbe(20)
    small.collect(); big.collect() // finalize (invariant 8)
    val (nS, nB) = (graft.ops.Scale.countExchanges(small),
      graft.ops.Scale.countExchanges(big))
    assert(nS == nB, s"corpus growth changed the shuffle count: $nS vs $nB")
    // every corpus table rides a broadcast probe; only batch-derived
    // subtrees (distinct grams, prefix window, candidate dedup) shuffle
    assert(nB <= 4, s"expected batch-sized shuffles only, got $nB")
  }

  test("contaminationSpans: planted run recovered exactly; minRun suppresses single hits") {
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn"), // dd..jj at pos 3..9
      (2L, "zz yy xx ww vv uu tt ss rr qq"))             // ww..ss at pos 3..7
      .toDF("doc_id", "text")
    val bench = Seq(
      ("dd ee ff gg hh ii jj"), // 7 tokens → 3 five-grams → run of 3 in doc 1
      ("ww vv uu tt ss"))       // 5 tokens → 1 five-gram → single hit in doc 2
      .toDF("text")
    val out = Dedup.contaminationSpans(corpus, "text", "doc_id", bench, "text",
        n = 5, minRun = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    // doc 1: gram positions 3,4,5 → tokens [3, 10); doc 2's single hit suppressed
    assert(out == Seq((1L, 3, 10, 3L)))
    val all = Dedup.contaminationSpans(corpus, "text", "doc_id", bench, "text",
        n = 5, minRun = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(all == Set((1L, 3, 10, 3L), (2L, 3, 8, 1L)))
  }

  test("simhash maxHamming=0 groups by exact hash, not one global bucket") {
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L))) // (1L<<64)-1 == 0 bug would also emit (1,3),(2,3) candidates — still filtered, but key must be the full hash
  }

  test("text stats: tokens, ratios, langid on clean inputs") {
    val r = Seq((1L, "The quick brown fox. It was fast!"))
      .toDF("doc_id", "text")
      .select(
        TextStats.tokenCountWs($"text").as("tok"),
        TextStats.punctRatio($"text").as("punct"),
        TextStats.stopwordRatio($"text").as("stop"),
        TextStats.langId($"text").as("lang"))
      .first()
    assert(r.getAs[Int]("tok") == 7)
    assert(r.getAs[Double]("punct") > 0.0)
    assert(r.getAs[Double]("stop") > 0.2) // the, it, was
    assert(r.getAs[String]("lang") == "en")
    val es = Seq((2L, "el zorro salta sobre el perro y corre por la casa"))
      .toDF("doc_id", "text").select(TextStats.langId($"text")).as[String].first()
    assert(es == "es")
  }

  test("curriculumOrder: exact global (score, id) positions, layout independent") {
    val rng = new scala.util.Random(7)
    val rows = (1L to 500L).map(i => (i, rng.nextInt(40).toLong))
    val df = rows.toDF("id", "score").repartition(13)
    val out = Packing.curriculumOrder(df, "id", "score")
      .select("id", "curriculum_pos").as[(Long, Long)].collect().toMap
    val expected = rows.sortBy { case (i, s) => (s, i) }.zipWithIndex
      .map { case ((i, _), pos) => i -> pos.toLong }.toMap
    assert(out == expected)
    // independent of the number of range partitions
    val out3 = Packing.curriculumOrder(TestSpark.withShufflePartitions(df, 3), "id", "score")
      .select("id", "curriculum_pos").as[(Long, Long)].collect().toMap
    assert(out3 == expected)
  }

  test("knnDensity: isolated vector scores ~0, dense mass ~1, exact kth rank") {
    import graft.sim.Similarity
    // five identical unit vectors + one orthogonal outlier; anchors = all
    val vecs = ((0L to 4L).map(i => (i, Seq(1.0, 0.0))) :+ (5L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.knnDensity(vecs, vecs, "vec_id", "embedding", k = 3)
      .as[(Long, Double)].collect().toMap
    // dense vector: sims (1, 1, 1, 1, 0) → 3rd best = 1.0
    (0L to 4L).foreach(i => assert(out(i) == 1.0, s"dense $i: ${out(i)}"))
    // outlier: sims (0, 0, 0, 0, 0) → 3rd best = 0.0
    assert(out(5L) == 0.0)
    // k beyond the dense run reaches the cross sims: k=5 for a dense vector
    // ranks the outlier similarity
    val k5 = Similarity.knnDensity(vecs, vecs, "vec_id", "embedding", k = 5)
      .as[(Long, Double)].collect().toMap
    assert(k5(0L) == 0.0 && k5(5L) == 0.0)
  }

  test("compression signals: hand-computed fixed-point entropy, unicode, clamp") {
    val d = Seq(
      (1L, "aaaa"),   // all-same → entropy 0 (exercises the max(0,·) clamp:
                      // 4·floor(ln4·1e6+.5) = 5545176 < floor(4·ln4·1e6+.5) = 5545177)
      (2L, "ab"),     // uniform over 2 → ln2 micro-nats = 693147 (exactly 1 bit)
      (3L, "abab"),   // same distribution at n=4 → 693147 again
      (4L, "日日本"), // unicode code points: n=3, distinct=2
      (5L, ""))       // empty → all zeros
      .toDF("doc_id", "text")
    val out = TextStats.withCompressionSignals(d, "text")
      .select("doc_id", "n_chars", "n_distinct_chars", "entropy_nats_x1e6",
        "compress_ratio_x10000")
      .as[(Long, Long, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 1, 0L, 0L)))
    assert(out(2L) == ((2L, 2L, 2, 693147L, 1250L)))
    assert(out(3L) == ((3L, 4L, 2, 693147L, 1250L)))
    assert(out(4L) == ((4L, 3L, 2, 636514L, 1147L)))
    assert(out(5L) == ((5L, 0L, 0, 0L, 0L)))
  }

  test("char entropy kernel ≡ JVM reference on random unicode strings") {
    val rng = new scala.util.Random(11)
    val alphabets = Vector("ab", "abcdefgh", "aá日🎉 x\n\tß", "0")
    val rows = (0 until 300).map { i =>
      val alpha = alphabets(rng.nextInt(alphabets.size)).toCharArray
        .mkString // keep surrogate pairs intact via codePoints below
      val cps = alpha.codePoints().toArray
      val n = rng.nextInt(50)
      (i.toLong, new String(
        (0 until n).flatMap(_ => Character.toChars(cps(rng.nextInt(cps.length)))).toArray))
    }
    def reference(s: String): (Long, Int, Long) = {
      val cps = s.codePoints().toArray
      val n = cps.length
      val counts = cps.groupBy(identity).map(_._2.length)
      val termSum = counts.map(c =>
        math.floor(c.toDouble * math.log(c.toDouble) * 1e6 + 0.5).toLong).sum
      val ent = if (n == 0) 0L
        else math.max(0L, n.toLong *
          math.floor(math.log(n.toDouble) * 1e6 + 0.5).toLong - termSum) / n
      (n.toLong, counts.size, ent)
    }
    val out = TextStats.withCompressionSignals(rows.toDF("id", "text"), "text")
      .select("id", "n_chars", "n_distinct_chars", "entropy_nats_x1e6")
      .as[(Long, Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    rows.foreach { case (id, s) =>
      assert(out(id) == reference(s), s"id=$id text=${s.take(40)}")
    }
  }

  test("deflate ratio: repetitive text compresses harder than varied text") {
    val d = Seq(
      (1L, "spam " * 400),
      (2L, (0 until 400).map(i => (i * 2654435761L % 977).toString).mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextStats.withDeflateRatio(d, "text")
      .select("doc_id", "deflate_bytes", "deflate_ratio_x10000")
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 > 0 && out(2L)._2 > 0)
    assert(out(1L)._3 < out(2L)._3, s"repetitive ${out(1L)} !< varied ${out(2L)}")
    assert(out(1L)._3 < 1000L)   // "spam "×400 deflates below 10%
  }

  test("fingerprint is whitespace/case-insensitive content identity") {
    val fps = Seq("a  b\tc", "A b C", "a b d").toDF("text")
      .select(TextStats.fingerprint($"text")).as[Long].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  // ---- similarity ----

  private val vecs = {
    val rnd = new scala.util.Random(7)
    (0L until 50L).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("brute-force top-k: nearest neighbor of a clone is the original") {
    val clone = vecs.where($"vec_id" === 0)
      .select(lit(999L).as("vec_id"), $"embedding")
    val corpus = vecs.unionByName(clone)
    val top = Similarity.bruteForceTopK(corpus, clone, "vec_id", "embedding", "vec_id", k = 3)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 0L)
    assert(top(0).getAs[Double]("cosine_sim") > 0.999999)
  }

  test("hardNegativesTopK: same-label vectors excluded, brute-force agreement on the rest") {
    // labels: id % 3 — a clone of vec 0 with label 0 must NOT surface for
    // a label-0 query even though it's the globally nearest vector
    val labeled = vecs.withColumn("label", (col("vec_id") % 3).cast("int"))
    val q = labeled.where($"vec_id" === 0) // label 0
    val hn = Similarity.hardNegativesTopK(labeled, q,
        "vec_id", "embedding", "label", k = 5)
      .collect()
    assert(hn.length == 5)
    assert(hn.forall(_.getAs[Int]("neighbor_label") != 0))
    // agreement with brute force restricted to other-label corpus: the
    // miner is exactly "top-k over the label-filtered corpus"
    val other = labeled.where($"label" =!= 0)
    val ref = Similarity.bruteForceTopK(other, q, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._4).toSeq
    val got = hn.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("cosine_sim"), r.getAs[Int]("rank"))).sortBy(_._4).toSeq
    assert(got == ref)
  }

  test("mmrRerank: matches an exact JVM reference greedy; diversity demotes the near-dup") {
    // a ≈ query, b ≈ a (near-dup), c oblique, d far: raw ranking is
    // (a, b, c, d); MMR must promote c above b after picking a
    val vs: Map[Long, Array[Double]] = Map(
      100L -> Array(1.0, 0.0, 0.0, 0.0),
      1L -> Array(0.9, 0.10, 0.0, 0.0),
      2L -> Array(0.9, 0.11, 0.0, 0.0),
      3L -> Array(0.5, 0.0, 0.8, 0.0),
      4L -> Array(0.0, 0.1, 0.0, 0.9))
    val df = vs.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(df, df.where($"vec_id" === 100L),
        "vec_id", "embedding", "vec_id",
        k = 4, shortlist = 4, lambdaX100 = 50)
      .orderBy("mmr_rank").select("neighbor_id").as[Long].collect().toSeq
    // exact integer reference: HALF_UP micro-quantized unit vectors (the
    // Spark round() rule), long dots, 50/50 objective, smallest-id ties
    def uq(v: Array[Double]): Array[Long] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => BigDecimal(x / n * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val q = uq(vs(100L))
    val cands = Seq(1L, 2L, 3L, 4L)
    val cu = cands.map(id => id -> uq(vs(id))).toMap
    val sq = cands.map(id => id -> dot(cu(id), q)).toMap
    var sel = Vector.empty[Long]; var rem = cands.toSet
    while (sel.size < 4 && rem.nonEmpty) {
      val best = rem.toSeq.map { id =>
        val pen = if (sel.isEmpty) 0L else sel.map(s => dot(cu(id), cu(s))).max
        (50L * sq(id) - 50L * pen, -id, id)
      }.max
      sel :+= best._3; rem -= best._3
    }
    assert(out == sel)
    assert(out.head == 1L)                         // most relevant first
    assert(out.indexOf(3L) < out.indexOf(2L))      // oblique above the near-dup
  }

  test("hardNegativesIvf: exhaustive probes equal the exact miner; restricted probes stay label-clean") {
    val labeled = vecs.withColumn("label", (col("vec_id") % 3).cast("int"))
    val q = labeled.where($"vec_id" < 3)
    def tup(r: org.apache.spark.sql.Row) = (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine_sim"),
      r.getAs[Int]("rank"))
    val exact = Similarity.hardNegativesTopK(labeled, q,
        "vec_id", "embedding", "label", k = 5)
      .collect().map(tup).sorted.toSeq
    // nProbe = nCentroids and k·oversample ≥ |corpus| → the shortlist is
    // the whole corpus, so the ANN miner must reproduce the exact one
    val exhaustive = Similarity.hardNegativesIvf(labeled, q,
        "vec_id", "embedding", "label",
        k = 5, oversample = 10, nCentroids = 4, nProbe = 4)
      .collect().map(tup).sorted.toSeq
    assert(exhaustive == exact)
    // restricted probes: possibly lower recall, but never a same-label
    // result, dense 1..k' ranks, descending cosine order
    val some = Similarity.hardNegativesIvf(labeled, q,
        "vec_id", "embedding", "label",
        k = 5, oversample = 2, nCentroids = 4, nProbe = 1)
      .collect()
    assert(some.nonEmpty)
    assert(some.forall(r => r.getAs[Int]("neighbor_label") != (r.getAs[Long]("query_id") % 3).toInt))
    val byQ = some.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length).toSeq)
      val sims = sorted.map(_.getAs[Double]("cosine_sim")).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("IVF corpus assignment is map-only: zero exchanges; planted clone at rank 1") {
    val clone = vecs.where($"vec_id" === 7)
      .select(lit(999L).as("vec_id"), $"embedding")
    val corpus = vecs.unionByName(clone)
    val c = corpus.select($"vec_id".as("neighbor_id"),
      $"embedding".cast("array<double>").as("__cv"))
    val (cents, _) = Similarity.collectCentroids(c, 8, "centroid_id", "__centroid")
    val assigned = Similarity.assignIdx(c, "__cv", "__ci", cents.map(_._2))
    assigned.collect() // finalize THIS dataset before counting (invariant 8)
    assert(graft.ops.Scale.countExchanges(assigned) == 0,
      assigned.queryExecution.executedPlan.toString)
    // end-to-end: the clone's original must come back at rank 1 through
    // the bucketed probe path (and its twin shares its bucket by
    // determinism of the map-only argmax)
    val top = Similarity.ivfTopK(corpus, clone, "vec_id", "embedding", "vec_id",
        k = 3, nCentroids = 8, nProbe = 3)
      .where($"rank" === 1).collect()
    assert(top.length == 1 && top(0).getAs[Long]("neighbor_id") == 7L)
    val top2 = Similarity.ivfTopK2(corpus, clone, "vec_id", "embedding", "vec_id",
        k = 3, nCoarse = 3, nFinePerCell = 3, probeCoarse = 2, probeFine = 4)
      .where($"rank" === 1).collect()
    assert(top2.length == 1 && top2(0).getAs[Long]("neighbor_id") == 7L)
  }

  test("LSH top-k recall: candidates are ranked by true cosine") {
    val queries = vecs.where($"vec_id" < 3)
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", "vec_id", k = 5)
      .where($"rank" === 1).select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val approx = Similarity.lshTopK(vecs, queries, "vec_id", "embedding", "vec_id",
      dim = 16, k = 5, nBits = 6, nTables = 8)
      .where($"rank" === 1).select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // with 8 tables on 16-dim data, the true NN should be recalled for most queries
    val hits = exact.keys.count(q => approx.get(q) == exact.get(q))
    assert(hits >= 2, s"approx=$approx exact=$exact")
  }

  test("embedding dup pairs finds planted perturbed clones") {
    val perturbed = vecs.where($"vec_id" < 5)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding", (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x))
          .as("embedding"))
    val corpus = vecs.unionByName(perturbed)
    val pairs = Similarity.cosineDupPairs(corpus, "vec_id", "embedding",
      dim = 16, threshold = 0.98, nBits = 6, nTables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 5L).map(i => (i, i + 1000L)).toSet
    assert(planted.intersect(pairs).size >= 4, s"found=$pairs")
  }

  test("dedupBlocksGlobal: first occurrence wins, docs rebuilt, partials and empties handled") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),        // two full blocks, both first
      (2L, "a b c d e x y z w v"),        // block 0 dups doc1 block 0
      (3L, "f g h i j"),                  // single block dups doc1 block 1
      (4L, ""),                           // empty -> 0 blocks
      (5L, "p q r s t u uu")              // full + partial (2-word) block
    ).toDF("doc_id", "text")
    val out = Dedup.dedupBlocksGlobal(docs, "text", "doc_id", blockWords = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("a b c d e f g h i j", 2, 2)))
    assert(out(2L) == (("x y z w v", 2, 1)))
    assert(out(3L) == (("", 1, 0)))
    assert(out(4L) == (("", 0, 0)))
    assert(out(5L) == (("p q r s t u uu", 2, 2)))
    // idempotent: re-deduping the deduped corpus changes nothing
    val again = Dedup.dedupBlocksGlobal(
        out.toSeq.toDF("doc_id", "t").select($"doc_id", $"t._1".as("text")),
        "text", "doc_id", blockWords = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, (txt, _, _)) => assert(again(id) == txt) }
  }

  test("fuzzyJoinBlocked: length-crossing and shared-prefix matches survive; guards") {
    import graft.text.Fuzzy
    // a deletion changes length (7 vs 8) — and all strings share a prefix,
    // the case that degenerates under naive length-band blocking
    val left = Seq((1L, "abcdefg"), (2L, "abczzzz")).toDF("lid", "lname")
    val right = Seq((10L, "abcdefgh"), (20L, "abcq")).toDF("rid", "rname")
    val out = Fuzzy.fuzzyJoinBlocked(left, "lname", right, "rname", maxDist = 1)
      .select("lid", "rid", "lev_dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 10L, 1)))
    intercept[IllegalArgumentException] { // q must be >= 1
      Fuzzy.fuzzyJoinBlocked(left, "lname", right, "rname", maxDist = 1, q = 0)
    }
    intercept[IllegalArgumentException] { // overlapping column names
      Fuzzy.fuzzyJoinBlocked(left, "lname", left, "lname", maxDist = 1)
    }
  }

  test("fuzzyJoinBlocked is recall-complete vs the brute-force join (random strings)") {
    import graft.text.Fuzzy
    // 3-letter alphabet, lengths 3..12: many repeated grams, strings below
    // the prefix-guarantee length (exercising the short-string fallback),
    // duplicate strings across rows (payload re-attachment fan-out)
    val rnd = new scala.util.Random(7)
    def word() = (1 to (3 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    val ls = (1L to 80L).map(i => (i, word())).toDF("lid", "ls")
    val rs = (1L to 80L).map(i => (i, word())).toDF("rid", "rs")
    // d = 1, 2 exercise the deletion-neighborhood path; d = 3 the gram-prefix path
    for (d <- Seq(1, 2, 3)) {
      val blocked = Fuzzy.fuzzyJoinBlocked(ls, "ls", rs, "rs", maxDist = d)
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = ls.crossJoin(rs)
        .where(levenshtein($"ls", $"rs") <= d)
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked == brute, s"maxDist=$d")
    }
    // extraBlock: pairs disagreeing on the exact-match component are dropped
    val xb = Fuzzy.fuzzyJoinBlocked(ls, "ls", rs, "rs", maxDist = 1,
        extraBlock = Some((substring($"ls", 1, 1), substring($"rs", 1, 1))))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteFirst = ls.crossJoin(rs)
      .where(levenshtein($"ls", $"rs") <= 1 &&
        substring($"ls", 1, 1) === substring($"rs", 1, 1))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(xb == bruteFirst)
  }

  test("gopherRules: each rule flips on its designed violation, integer-exact") {
    val good = (1 to 30).map(i => s"word$i with the and of").mkString(" ") // 150 words, stopwords present
    val rows = Seq(
      (1L, good),                                            // passes all
      (2L, "too short with the"),                            // < 20 words
      (3L, (1 to 30).map(_ => "a b the of").mkString(" ")),  // mean word len < 3
      (4L, (1 to 30).map(_ => "### with the of").mkString(" ")), // symbols ≥ 10%... wait '#' is a word too
      (5L, (1 to 30).map(_ => "123 456 789 0 the of with and").mkString(" ")), // alpha words < 80%
      (6L, (1 to 30).map(i => s"word$i nothing here").mkString(" ")), // < 2 required stopwords
      (7L, (1 to 30).map(i => s"- bullet$i the of").mkString("\n")), // all lines bulleted
      (8L, (1 to 30).map(i => s"line$i the of and...").mkString("\n"))) // all lines end in ellipsis
      .toDF("doc_id", "text")
    val out = graft.text.TextStats.gopherRules(rows, "text", "doc_id",
        minWords = 20, maxWords = 100000)
      .select("doc_id", "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_alpha_words", "r_stopwords", "r_bullet_lines", "r_ellipsis_lines",
        "pass")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._9, "doc 1 should pass all rules")
    assert(!out(2L)._2 && !out(2L)._9)  // word count
    assert(!out(3L)._3 && !out(3L)._9)  // mean word length low
    assert(!out(4L)._4 && !out(4L)._9)  // symbol ratio (90 '#' vs 120 words)
    assert(!out(5L)._5 && !out(5L)._9)  // alpha words 4/8 = 50%
    assert(!out(6L)._6 && !out(6L)._9)  // required stopwords absent
    assert(!out(7L)._7 && !out(7L)._9)  // all lines bulleted
    assert(!out(8L)._8 && !out(8L)._9)  // all lines ellipsis-terminated
  }

  test("c4LineFilter: line rules, page flags, rebuilt text") {
    val rows = Seq(
      (1L, "This is a good first sentence here.\nShort line.\nAnother quite good long sentence!\nno terminal punctuation line at all"),
      (2L, "Enable javascript to view this page.\nA perfectly fine second sentence."),
      (3L, "Lorem ipsum dolor sit amet consectetur.\nA fine sentence that would survive."),
      (4L, "function f() { return 1; }\nA fine sentence that would survive."),
      (5L, "One good keeper sentence stands alone."))
      .toDF("doc_id", "text")
    val out = graft.text.TextStats.c4LineFilter(rows, "text", "doc_id",
        minWordsPerLine = 5, minLinesKept = 1)
      .select("doc_id", "n_lines", "n_lines_kept", "clean_text",
        "has_lorem_ipsum", "has_brace", "keep_page")
      .as[(Long, Int, Int, String, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    // doc 1: line 2 (<5 words) and line 4 (no terminal punct) drop
    assert(out(1L)._2 == 4 && out(1L)._3 == 2 && out(1L)._7)
    assert(out(1L)._4 ==
      "This is a good first sentence here.\nAnother quite good long sentence!")
    // doc 2: javascript line drops, page survives on the clean line
    assert(out(2L)._3 == 1 && out(2L)._7)
    // doc 3: lorem ipsum kills the page even though lines pass
    assert(out(3L)._5 && !out(3L)._7)
    // doc 4: brace kills the page
    assert(out(4L)._6 && !out(4L)._7)
    // doc 5: single clean line, kept
    assert(out(5L)._3 == 1 && out(5L)._7)
  }

  test("int8Quantize: hand-computed codes, zero vector, round-trip error bound") {
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),   // maxabs 1.0 → codes 64, -127, 32
      (2L, Seq(0.0f, 0.0f, 0.0f)),     // zero vector → scale 0, codes 0
      (3L, Seq(-0.3f, 0.7f, 0.11f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.int8Quantize(vecs, "embedding")
      .select("vec_id", "scale", "codes")
      .as[(Long, Double, Seq[Int])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._2 == Seq(64, -127, 32))
    assert(math.abs(out(1L)._1 - 1.0 / 127) < 1e-12)
    assert(out(2L) == ((0.0, Seq(0, 0, 0))))
    // round-trip: |x − code·scale| ≤ scale/2 everywhere (half-up rounding)
    val (s3, c3) = out(3L)
    val orig = Seq(-0.3f, 0.7f, 0.11f).map(_.toDouble)
    c3.zip(orig).foreach { case (code, x) =>
      assert(math.abs(x - code * s3) <= s3 / 2 + 1e-12, s"x=$x code=$code")
    }
    assert(c3.max <= 127 && c3.min >= -127)
  }

  test("keepBestPerCluster: one winner per cluster, singletons self-cluster and survive") {
    val d = Seq((1L, 10), (2L, 30), (3L, 20),  // cluster 1: 2 wins on score
                (7L, 5))                       // no edge → singleton
      .toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cluster_id")
    val out = Dedup.keepBestPerCluster(d, clusters, "doc_id", "n_chars")
      .select("doc_id", "cluster_id", "kept")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, false)))
    assert(out(2L) == ((1L, true)))            // greatest n_chars
    assert(out(3L) == ((1L, false)))
    assert(out(7L) == ((7L, true)))            // singleton: own label, kept
  }

  test("keepBestPerCluster ties resolve to the smallest id, independent of layout") {
    val d = Seq((5L, 10), (9L, 10), (2L, 10)).toDF("doc_id", "n_chars")
    val clusters = Seq((5L, 2L), (9L, 2L), (2L, 2L)).toDF("id", "cluster_id")
    for (reps <- Seq(1, 5)) {
      val out = Dedup.keepBestPerCluster(d.repartition(reps), clusters,
          "doc_id", "n_chars")
        .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
      assert(out == Map(2L -> true, 5L -> false, 9L -> false), s"reps=$reps")
    }
  }

  test("docNovelty: first-occurrence attribution; exact clones score zero") {
    val df = Seq(
      (1L, "a b c d"),   // grams {a b c, b c d} — both new: novelty 10000
      (2L, "a b c d"),   // exact clone of 1 — zero new
      (3L, "a b c x"))   // {a b c (seen), b c x (new)} — 5000
      .toDF("doc_id", "text")
    val out = Dedup.docNovelty(df, "text", "doc_id", n = 3)
      .select("doc_id", "n_grams", "n_new", "novelty_x10000")
      .as[(Long, Long, Long, Int)].collect()
      .map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    assert(out(1L) == ((2L, 2L, 10000)))
    assert(out(2L) == ((2L, 0L, 0)))
    assert(out(3L) == ((2L, 1L, 5000)))
  }

  test("crossGroupOverlap: hand-computed shared 3-grams and Jaccard per source pair") {
    val df = Seq(
      ("A", "x y z w"),     // grams: {x y z, y z w}
      ("A", "x y z"),       // gram:  {x y z} (dup within A collapses)
      ("B", "x y z q"),     // grams: {x y z, y z q}
      ("C", "p q r"))       // gram:  {p q r}
      .toDF("source", "text")
    val out = Dedup.crossGroupOverlap(df, "text", "source", n = 3)
      .select("group_a", "group_b", "shared_grams", "n_a", "n_b", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    // A={x y z, y z w} (n=2), B={x y z, y z q} (n=2), C={p q r} (n=1)
    // A∩B={x y z}: 1 shared, union 3 -> 0.3333; C overlaps nothing
    assert(out == Set(("A", "B", 1L, 2L, 2L, 0.3333)))
  }

  test("crossGroupOverlap is partition-layout independent and symmetric-free") {
    val df = Seq(
      ("s1", "a b c d e"), ("s2", "a b c x y"), ("s3", "a b c d e f"))
      .toDF("source", "text")
    val a = Dedup.crossGroupOverlap(df, "text", "source")
      .orderBy("group_a", "group_b").collect().toSeq
    val b = Dedup.crossGroupOverlap(df.repartition(5), "text", "source")
      .orderBy("group_a", "group_b").collect().toSeq
    assert(a == b)
    // every pair appears once with group_a < group_b
    assert(a.forall(r => r.getString(0) < r.getString(1)))
  }
}
