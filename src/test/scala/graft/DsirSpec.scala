package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.Dsir

/** DSIR importance scoring ([[graft.text.Dsir]]) against an independent
  * JVM-side replay of the whole pipeline: tokenize → unigrams++bigrams
  * with multiplicity → md5-prefix bucket → densified add-1-smoothed
  * counts → integer decade weights → per-doc sums. The replay shares no
  * code with the Catalyst path (MessageDigest vs `md5()`, Scala Longs vs
  * codegen), so agreement pins the full determinism contract the DuckDB
  * oracle relies on. */
class DsirSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // target = the "wiki-like" docs; raw = everything. zh doc tokenizes to
  // nothing under the latin tokenizer (no-grams path); doc 6 is empty.
  private val docs = Seq(
    (1L, "the cat sat on the mat", "en"),
    (2L, "the dog ran far away", "en"),
    (3L, "zorro rapido salta lejos", "es"),
    (4L, "perro perezoso duerme mucho hoy", "es"),
    (5L, "中文文本没有拉丁字母", "zh"),
    (6L, "", "en"))
    .toDF("doc_id", "text", "lang")
  private val B = 16

  /** Independent replay of the tokenizer + gram stream (multiplicity
    * preserved, unigrams ++ bigrams). */
  private def grams(text: String): Seq[String] = {
    val toks = text.trim.toLowerCase
      .replaceAll("[^a-z0-9áéíóúñü ]", "").split("\\s+").filter(_.nonEmpty).toSeq
    toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  /** READABLE REFERENCE FORM of the gram semantics (unigrams ++ bigrams
    * from a MATERIALIZED token-array attribute, multiplicity preserved —
    * DSIR counts occurrences, not distinct grams) that the
    * [[graft.functions.DsirBuckets]] kernel is pinned against. */
  private def gramsCol(toks: Column): Column =
    concat(
      toks,
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>")))

  /** The portable bucket gate as Columns: first 15 md5 hex digits mod
    * `buckets` (DuckDB: `('0x' || substr(md5(g),1,15))::UBIGINT % B`). */
  private def bucketOf(gram: Column, buckets: Int): Column =
    conv(substring(md5(gram), 1, 15), 16, 10).cast("long") % buckets

  /** Independent replay of [[bucketOf]]: first 15 md5 hex digits. */
  private def bucket(g: String, buckets: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  private def digits(v: Long): Int = v.toString.length

  /** Replayed per-bucket (weight, tcnt, rcnt) for target = lang=en. */
  private def replayWeights(): Map[Long, Int] = {
    val rows = docs.as[(Long, String, String)].collect()
    val tCnt = rows.filter(_._3 == "en").flatMap(r => grams(r._2))
      .groupBy(bucket(_, B)).view.mapValues(_.length.toLong).toMap
    val rCnt = rows.flatMap(r => grams(r._2))
      .groupBy(bucket(_, B)).view.mapValues(_.length.toLong).toMap
    val tTotal = tCnt.values.sum + B
    val rTotal = rCnt.values.sum + B
    (0L until B).map { b =>
      val t = tCnt.getOrElse(b, 0L); val r = rCnt.getOrElse(b, 0L)
      b -> (digits(rTotal / (r + 1)) - digits(tTotal / (t + 1)))
    }.toMap
  }

  test("DsirBuckets kernel ≡ the readable Column form (gramsCol + bucketOf), multiplicity and order-insensitive") {
    graft.functions.GraftFunctions.register(spark)
    val toks = filter(graft.text.Dedup.tokensCol(col("text")), t => t =!= "")
    val viaKernel = docs.withColumn("__toks", toks)
      .select(col("doc_id"),
        explode(call_function("graft_dsir_buckets", col("__toks"), lit(B)))
          .as("bucket"))
      .groupBy("doc_id", "bucket").count()
      .as[(Long, Long, Long)].collect().toSet
    val viaColumns = docs.withColumn("__toks", toks)
      .select(col("doc_id"), explode(gramsCol(col("__toks"))).as("__gram"))
      .select(col("doc_id"), bucketOf(col("__gram"), B).as("bucket"))
      .groupBy("doc_id", "bucket").count()
      .as[(Long, Long, Long)].collect().toSet
    assert(viaKernel == viaColumns)
    assert(viaKernel.nonEmpty)
    // unigram variant ≡ bucketOf over exploded tokens
    val uniKernel = docs.withColumn("__toks", toks)
      .select(col("doc_id"),
        explode(call_function("graft_token_buckets", col("__toks"), lit(B)))
          .as("bucket"))
      .groupBy("doc_id", "bucket").count()
      .as[(Long, Long, Long)].collect().toSet
    val uniColumns = docs.withColumn("__toks", toks)
      .select(col("doc_id"), explode(col("__toks")).as("__tok"))
      .select(col("doc_id"), bucketOf(col("__tok"), B).as("bucket"))
      .groupBy("doc_id", "bucket").count()
      .as[(Long, Long, Long)].collect().toSet
    assert(uniKernel == uniColumns)
  }

  test("importance weights match the independent md5/decade replay on every bucket") {
    val target = docs.where(col("lang") === "en")
    val got = Dsir.importanceWeights(target, docs, "text", B)
      .select("bucket", "weight").as[(Long, Int)].collect().toMap
    assert(got.keySet == (0L until B).toSet)   // densified: ALL buckets
    assert(got == replayWeights())
  }

  test("importanceWeightsByFlag (single-pass) ≡ importanceWeights on the partitioned target, both scales") {
    val twoPass = Dsir.importanceWeights(
        docs.where(col("lang") === "en"), docs, "text", B)
      .select("bucket", "weight", "weight_log")
      .as[(Long, Int, Double)].collect().toSet
    val onePass = Dsir.importanceWeightsByFlag(
        docs, col("lang") === "en", "text", B)
      .select("bucket", "weight", "weight_log")
      .as[(Long, Int, Double)].collect().toSet
    assert(onePass == twoPass)
  }

  test("per-doc scores are the exact integer sums of replayed bucket weights") {
    val w = Dsir.importanceWeights(docs.where(col("lang") === "en"), docs, "text", B)
    val got = Dsir.withImportanceScore(docs, w, "text", "doc_id", B)
      .select("doc_id", "n_grams", "dsir_score").as[(Long, Int, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val weights = replayWeights()
    docs.as[(Long, String, String)].collect().foreach { case (id, text, _) =>
      val gs = grams(text)
      val expected = (gs.size, gs.map(g => weights(bucket(g, B)).toLong).sum)
      assert(got(id) == expected, s"doc $id")
    }
  }

  test("no-grams docs (non-latin, empty) pin n_grams=0 and score 0") {
    val w = Dsir.importanceWeights(docs.where(col("lang") === "en"), docs, "text", B)
    val got = Dsir.withImportanceScore(docs, w, "text", "doc_id", B)
      .select("doc_id", "n_grams", "dsir_score", "dsir_score_log")
      .as[(Long, Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(5L)._2 == 0 && got(5L)._3 == 0L && got(5L)._4 == 0.0)
    assert(got(6L)._2 == 0 && got(6L)._3 == 0L && got(6L)._4 == 0.0)
  }

  test("weight_log is det-rounded at the bucket level and sign-consistent with weight") {
    val w = Dsir.importanceWeights(docs.where(col("lang") === "en"), docs, "text", B)
      .select("weight", "weight_log").as[(Int, Double)].collect()
    w.foreach { case (wi, wl) =>
      // 6-dp det-round: wl*1e6 is integral (modulo double representation)
      assert(math.abs(wl * 1e6 - math.rint(wl * 1e6)) < 1e-6)
      // decade weight is a coarse floor of the log-ratio: a strictly
      // positive decade implies a positive log-ratio and vice versa
      if (wi > 0) assert(wl > 0.0)
      if (wl == 0.0) assert(wi == 0)
    }
  }

  test("resample boundary: ceil fraction and score ties resolve to smallest doc_id") {
    // 5 docs in one shard, fraction 0.5 → ceil(2.5) = 3 kept; three-way
    // score tie straddles the boundary → doc_id decides who survives.
    val scored = Seq(
      (1L, "s", 100L), (2L, "s", 90L), (3L, "s", 90L),
      (4L, "s", 90L), (5L, "s", 10L))
      .toDF("doc_id", "source", "dsir_score")
    for (reps <- Seq(1, 4)) {
      val kept = graft.ops.Filters.topFractionByGroup(
          scored.repartition(reps), "source", "dsir_score", 0.5, "doc_id")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 3L), s"reps=$reps")
    }
  }

  test("scores are partition-layout independent") {
    val w = Dsir.importanceWeights(docs.where(col("lang") === "en"), docs, "text", B)
    val a = Dsir.withImportanceScore(docs.repartition(7), w, "text", "doc_id", B)
      .select("doc_id", "dsir_score").as[(Long, Long)].collect().toSet
    val b = Dsir.withImportanceScore(docs, w, "text", "doc_id", B)
      .select("doc_id", "dsir_score").as[(Long, Long)].collect().toSet
    assert(a == b)
  }
}
