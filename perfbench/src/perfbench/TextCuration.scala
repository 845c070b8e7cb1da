package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

import graft.functions.GraftFunctions
import graft.text.{Dedup, TextStats}

/** Training-text curation, one iteration = one pass: Gopher quality rules
  * -> exact dedup -> MinHash-banded verified Jaccard pairs -> winnowed
  * verified containment pairs -> SimHash pairs -> duplicate clusters and
  * one kept document per cluster, scored by the Gopher result. Writes
  * nothing to the store.
  *
  * Input: [[DocGen]]'s seeded copy of the documents corpus, `BaseDocs`
  * documents scaled `Factor`x, written as parquet and read back cached.
  * The first pass is the JIT warm-up (one on a smaller corpus left the
  * first full pass still warming up); every pass must give the first
  * pass's pairs and clusters. */
final class TextCuration(ctx: Ctx) extends Workload {
  import ctx.spark

  val BaseDocs = 500
  val Factor = 10
  val MinhashThreshold = 0.5
  val ContainmentThreshold = 0.8
  val MaxHamming = 3

  private var docs: DataFrame = _
  /** (pair set -> (count, order-independent hash)) of the first pass. */
  private var reference: Map[String, (Long, Long)] = Map.empty

  def setup(): Unit = {
    val dir = ctx.work.resolve("text_curation/docs").toString
    DocGen.generate(spark, BaseDocs, Factor, ctx.seed).write.mode("overwrite").parquet(dir)
    docs = ctx.pin(spark.read.parquet(dir), "docs")
  }

  private def signature(pairs: Seq[(Long, Long)]): (Long, Long) =
    (pairs.size.toLong, pairs.map { case (a, b) => (a * 1000003L) ^ (b * 998244353L) }
      .foldLeft(0L)(_ + _ * 0x9E3779B97F4A7C15L))

  def iterate(i: Int): Unit = {
    // the rules score documents rather than filter them: none of this
    // corpus passes (its vocabulary holds one of the eight required
    // stopwords), so a filter would leave the pair steps nothing to do
    val scored = ctx.op("text.gopher") {
      val rules = TextStats.gopherRules(docs, "text", "doc_id")
        .select(col("doc_id"), (col("pass").cast("int") * 1000000 + col("n_words")).as("score"))
      ctx.pin(docs.join(rules, Seq("doc_id")), "scored")
    }
    val exact = ctx.op("text.exact")(ctx.pin(Dedup.exact(scored, "text", "doc_id"), "exact"))
    val minhash = ctx.op("text.minhash") {
      Dedup.minhashVerifiedPairs(exact, "text", "doc_id", threshold = MinhashThreshold)
        .collect()
    }
    val containment = ctx.op("text.containment") {
      Dedup.containmentVerifiedPairs(exact, "text", "doc_id", threshold = ContainmentThreshold)
        .collect()
    }
    val simhash = ctx.op("text.simhash") {
      Dedup.simhashPairs(exact, "text", "doc_id", maxHamming = MaxHamming).collect()
    }
    def ids(rows: Array[Row]) = rows.toSeq.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val sets = Map("minhash" -> ids(minhash), "containment" -> ids(containment),
      "simhash" -> ids(simhash))
    val (clusters, survivors) = ctx.op("text.clusters") {
      import spark.implicits._
      val pairs = sets.values.flatten.toSeq.distinct.toDF("id_a", "id_b")
      val cl = ctx.pin(Dedup.duplicateClusters(pairs), "clusters")
      val best = Dedup.keepBestPerCluster(exact, cl, "doc_id", "score")
      val r = (cl.select("cluster_id").distinct().count(), best.where(col("kept")).count())
      ctx.unpin("clusters")
      r
    }
    val exactRows = exact.count()
    ctx.unpin("scored")
    ctx.unpin("exact")

    val sigs = sets.map { case (k, v) => k -> signature(v) } ++
      Map("clusters" -> (clusters, survivors))
    if (reference.isEmpty) {
      reference = sigs
      verifyThresholds(minhash, containment, simhash)
    } else ctx.check(sigs == reference, s"pass $i differs from the first pass: $sigs vs $reference")
    ctx.check(sets.values.forall(_.nonEmpty), s"a pair set is empty: ${sigs}")
    ctx.check(survivors < exactRows && survivors >= exactRows - sets.values.flatten.size,
      s"kept $survivors of $exactRows documents")
    ctx.gauge("text.minhash.pairs", minhash.length)
    ctx.gauge("text.containment.pairs", containment.length)
    ctx.gauge("text.simhash.pairs", simhash.length)
    ctx.gauge("text.clusters.count", clusters)
  }

  /** Recompute every reported pair's similarity from the raw texts, with
    * the tokenizer and gram definition written out here. */
  private def verifyThresholds(minhash: Array[Row], containment: Array[Row],
                               simhash: Array[Row]): Unit = {
    import spark.implicits._
    val all = (minhash ++ containment ++ simhash)
      .flatMap(r => Seq(r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).distinct.toSeq
    val text = docs.join(all.toDF("doc_id"), Seq("doc_id")).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    val sh = mutable.HashMap.empty[Long, Long]
    val grams = mutable.HashMap.empty[Long, Set[String]]
    def g(id: Long): Set[String] = grams.getOrElseUpdate(id, {
      val toks = text(id).toLowerCase.trim.replaceAll("[^a-z0-9áéíóúñü ]", "")
        .split("\\s+").toSeq
      if (toks.size < 3) Set(toks.mkString(" ")) else toks.sliding(3).map(_.mkString(" ")).toSet
    })
    minhash.foreach { r =>
      val (a, b) = (g(r.getAs[Long]("id_a")), g(r.getAs[Long]("id_b")))
      val j = (a intersect b).size.toDouble / (a union b).size
      ctx.check(j >= MinhashThreshold - 1e-9, s"minhash pair $r has Jaccard $j")
    }
    containment.foreach { r =>
      val (a, b) = (g(r.getAs[Long]("id_a")), g(r.getAs[Long]("id_b")))
      val c = (a intersect b).size.toDouble / a.size
      ctx.check(c >= ContainmentThreshold - 1e-9, s"containment pair $r has containment $c")
    }
    simhash.foreach { r =>
      def h(id: Long) = sh.getOrElseUpdate(id, refSimhash(text(id)))
      val d = java.lang.Long.bitCount(h(r.getAs[Long]("id_a")) ^ h(r.getAs[Long]("id_b")))
      ctx.check(d <= MaxHamming && d == r.getAs[Int]("hamming"),
        s"simhash pair $r has Hamming distance $d")
    }
  }

  /** SimHash as `Dedup.simhash` defines it, written out here: the tokens of
    * Dedup's reference tokenizer (accents dropped), each hashed as Spark's
    * `xxhash64` hashes a string; bit i is set when more tokens have it set
    * than not. */
  private def refSimhash(text: String): Long = {
    val hs = text.toLowerCase.trim.replaceAll("[^a-z0-9 ]", "").split("\\s+").map { t =>
      val b = t.getBytes(StandardCharsets.UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    (0 until 64).foldLeft(0L) { (acc, i) =>
      if (hs.count(h => ((h >>> i) & 1L) == 1L) * 2 > hs.length) acc | (1L << i) else acc
    }
  }

  /** Each native kernel alone through its public Column function, over a fixed
    * cached column of the corpus; plus the count of LSH candidates the
    * verified MinHash pairs are drawn from, on the frame the verifier gets. */
  override def probe(): Unit = {
    GraftFunctions.register(spark)
    val base = ctx.pin(docs.select(col("text"),
      GraftFunctions.tokens(col("text"), keepAccents = true, dropEmpty = false).as("tokens"))
      .withColumn("grams", call_function("graft_ngram_hashes", col("tokens"), lit(3))), "kernel_input")
    val n = base.count()
    val kernels: Seq[(String, Column)] = Seq(
      "tokens" -> GraftFunctions.tokens(col("text"), keepAccents = true, dropEmpty = false),
      "ngram_hashes" -> call_function("graft_ngram_hashes", col("tokens"), lit(3)),
      "minhash" -> call_function("graft_minhash_long", col("grams"), lit(64)),
      "simhash" -> call_function("graft_simhash", col("tokens")),
      "winnow_hashes" -> call_function("graft_winnow_hashes", col("tokens"), lit(3), lit(8)),
      "repetition_stats" -> call_function("graft_repetition_stats", col("tokens"), lit(2), lit(3)))
    kernels.foreach { case (name, k) =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.op(s"functions.$name")(ctx.materialize(base.select(k)))
        (System.nanoTime() - t0) / 1e9
      }
      ctx.gauge(s"functions.$name.rows_per_s", n / Stats.median(times))
    }
    ctx.unpin("kernel_input")
    val exact = ctx.pin(Dedup.exact(docs, "text", "doc_id"), "probe_exact")
    val candidates = ctx.op("text.minhash_candidates") {
      Dedup.minhashPairs(exact, "text", "doc_id", threshold = 0.35).count()
    }
    ctx.unpin("probe_exact")
    ctx.gauge("text.minhash.candidates", candidates)
  }

  override def named(): Seq[(String, Double, String)] =
    Layers.TextSteps.map(st => (s"${st}_s",
      Stats.median(ctx.opSeconds.getOrElse(s"text.$st", Nil).toSeq), "s"))
}

/** A seeded copy of the repository's documents corpus (`documents.parquet`
  * of the sf0.1 test data, which lives outside the repository), scaled the
  * way `graft.datagen.ScaleUp <sf0.1> <dir> <factor> replicate documents`
  * scales it. Shape of the base corpus, as measured on that file (5,000
  * documents):
  *  - 10 to 100 words per document, about uniformly;
  *  - words drawn uniformly from the 30-word vocabulary below (3.3% each);
  *  - 0.16% exact copies (8 of 5,000) and 5.0% near copies (248): a source
  *    document with the word "dup" appended (243 of them one word, 5 two or
  *    three), every near pair at 3-gram Jaccard >= 0.8.
  * Base document `d` is an original for `d < base - copies`, else a copy of
  * a seeded earlier original. Replica r > 0 shifts `doc_id` by r * 10^7 and
  * re-orders each document's tokens by md5(token|doc_id|r), exactly as
  * ScaleUp does. Every value is a hash of (seed, doc, position), so a seed
  * gives the same corpus on any partitioning. */
object DocGen {
  val Vocabulary = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  val ExactShare = 8 / 5000.0
  val NearShare = 248 / 5000.0
  /** ScaleUp's replica key offset. */
  val Offset = 10000000L

  def generate(spark: org.apache.spark.sql.SparkSession, base: Int, factor: Int,
               seed: Long): DataFrame = {
    def u(salt: Int, cs: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(salt) +: cs): _*), lit(1000003L)).cast("double") / 1000003.0
    val vocab = array(Vocabulary.map(lit): _*)
    val nExact = math.round(base * ExactShare).toInt
    val nNear = math.round(base * NearShare).toInt
    val originals = base - nExact - nNear
    val d = col("id")
    val orig = spark.range(0, originals).select(d.as("doc_id"),
      transform(sequence(lit(0), lit(9) + (u(1, d) * 91).cast("int")),
        i => element_at(vocab, (u(2, d, i) * Vocabulary.size).cast("int") + 1)).as("w"))
    val copies = spark.range(originals, base).select(d.as("doc_id"),
      pmod(xxhash64(lit(seed), lit(3), d), lit(originals.toLong)).as("src"),
      (d >= originals + nExact).as("near"))
      .join(orig.select(col("doc_id").as("src"), col("w")), "src")
      .select(col("doc_id"),
        when(col("near"), concat(col("w"), array(lit("dup")))).otherwise(col("w")).as("w"))
    val baseDocs = orig.unionByName(copies)
      .select(col("doc_id"), array_join(col("w"), " ").as("text"))
    // ScaleUp's replicate mode for documents
    val reps = baseDocs.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("doc_id", col("doc_id") + col("rep") * Offset)
    val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
    val shuffled = concat_ws(" ", transform(
      array_sort(transform(toks,
        t => struct(md5(concat_ws("|", t, col("doc_id"), col("rep"))).as("k"), t.as("t")))),
      s => s.getField("t")))
    reps.select(col("doc_id"), when(col("rep") === 0, col("text")).otherwise(shuffled).as("text"))
  }
}
