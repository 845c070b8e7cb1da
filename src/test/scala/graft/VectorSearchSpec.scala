package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sim.{Cluster, IvfIndex, PQ, Similarity}
import graft.store.TableStore

/** The vector-search family's shared retrieval step: every approximate
  * path, given settings that make it exhaustive, must return exactly the
  * exact search's rows, ties included; and the source guard that keeps the
  * rank rule and the scored cosine in their one helper each. */
class VectorSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Hit = (Long, Long, Double, Int)

  private def hits(df: DataFrame): Seq[Hit] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cosine_sim"), col("rank"))
      .as[Hit].collect().toSeq.sortBy(h => (h._1, h._4))

  test("exhaustive IVF, two-level IVF, IVF-ADC and stored-index search ≡ " +
      "bruteForceTopK row for row, planted ties included") {
    val rnd = new scala.util.Random(23)
    val base = (1L to 60L).map(i => i -> Seq.fill(8)(rnd.nextGaussian()))
    val byId = base.toMap
    // exact duplicates: 101..110 copy 1..10, and 200..205 copy 30, so
    // queries 30 and 200 each see six neighbors tied at 1.0 for k = 5
    val planted = (1L to 10L).map(i => (100L + i) -> byId(i)) ++
      (200L to 205L).map(_ -> byId(30L))
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val n = corpus.count().toInt
    val queries = corpus.where(col("vec_id").isin((1L to 8L) ++ Seq(30L, 101L, 200L): _*))
    val k = 5

    val exact = hits(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "vec_id", k = k))
    assert(exact.size == 11 * k)
    // the tie rule itself: equal scores go to the smaller neighbor id
    assert(exact.filter(_._1 == 30L).map(h => (h._2, h._3)) ==
      (200L to 204L).map(_ -> 1.0))
    assert(exact.filter(_._1 == 200L).map(h => (h._2, h._3)) ==
      (Seq(30L) ++ (201L to 204L)).map(_ -> 1.0))

    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", "vec_id",
      k = k, nCentroids = 6, nProbe = 6)
    assert(hits(ivf) == exact, "ivfTopK, nProbe = nCentroids")

    val ivf2 = Similarity.ivfTopK2(corpus, queries, "vec_id", "embedding", "vec_id",
      k = k, nCoarse = 3, nFinePerCell = 3, probeCoarse = 3, probeFine = 9)
    assert(hits(ivf2) == exact, "ivfTopK2, every cell and every fine centroid")

    val model = PQ.fit(corpus, "vec_id", "embedding", dim = 8, m = 2, k = 4)
    val adc = PQ.ivfAdcTopK(corpus, queries, "vec_id", "embedding", "vec_id", model,
      k = k, nCentroids = 6, nProbe = 6, shortlist = n)
    assert(hits(adc) == exact, "ivfAdcTopK, nProbe = nCentroids, shortlist = |corpus|")

    val cents = corpus.where(col("vec_id") <= 4).orderBy("vec_id")
      .select(Cluster.quantize(col("embedding")))
      .collect().map(_.getSeq[Long](0).toVector).toVector
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_vecsearch").toString)
    IvfIndex.assignIncremental(store, "p", corpus, "vec_id", "embedding", cents)
    val stored = IvfIndex.searchStored(store, "p", queries, "vec_id", "embedding",
      cents, k = k, nProbe = cents.size)
    assert(hits(stored) == exact, "searchStored, every cluster probed")
  }

  test("one rank rule and one scored cosine: the cosine_sim ranking and a " +
      "rounded cosine appear only in Similarity.topK and Similarity.cosine6") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val sim = root.resolve("graft/sim/Similarity.scala")
    // (file, code line) → why it may rank by or round a cosine
    val exempt: Map[(Path, String), String] = Map(
      (sim, """.orderBy(col("cosine_sim").desc, col("neighbor_id"))""") ->
        "Similarity.topK: the rank rule",
      (sim, """.orderBy(col("cosine_sim").desc, col("query_id"))""") ->
        "Similarity.knnDensity: the k-th anchor per vector, an `=== k` pick, not a top-k",
      (sim, "round(GraftFunctions.cosine(a, b), 6)") ->
        "Similarity.cosine6: the scored cosine")
    // a rounded cosine may span lines: round(\n  GraftFunctions.cosine(
    val banned = """col\("cosine_sim"\)\.desc|round\(\s*([\w.]+\.)?cos(ine)?\(""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val found = for {
      p <- files
      text = new String(Files.readAllBytes(p), "UTF-8")
      lines = text.split("\n", -1)
      m <- banned.findAllMatchIn(text)
      i = text.substring(0, m.start).count(_ == '\n')
      code = lines(i).split("//", 2)(0).trim
      at = m.start - text.lastIndexOf('\n', m.start - 1) - 1
      comment = lines(i).indexOf("//")
      if !code.startsWith("*") && !code.startsWith("/*") && (comment < 0 || at < comment)
    } yield (p, code, i)
    val bad = found.collect { case (p, code, i) if !exempt.contains((p, code)) =>
      s"$p:${i + 1}: $code" }
    assert(bad.isEmpty, bad.mkString(
      "a cosine ranking or rounded cosine outside its helper (score with " +
        "Similarity.cosine6, rank with Similarity.topK):\n", "\n", ""))
    val stale = exempt.keySet -- found.map { case (p, code, _) => (p, code) }
    assert(stale.isEmpty, s"exemptions that match no line: $stale")
  }
}
