package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.Filters
import graft.text.Packing

class CurateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rankBuckets: ntile semantics per group, deterministic ties") {
    val df = Seq(
      ("a", 1L, 30), ("a", 2L, 20), ("a", 3L, 20), ("a", 4L, 10), ("a", 5L, 5),
      ("b", 6L, 1))
      .toDF("source", "id", "score")
    val out = Filters.rankBuckets(df, "source", "score", nBuckets = 2, tieCol = "id")
      .select("id", "bucket").as[(Long, Int)].collect().toMap
    // a: 5 rows -> buckets of 3 and 2 in (score desc, id) order
    assert(out == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2, 6L -> 1))
  }

  test("unimaxAllocation: hand-computed greedy, caps bind small groups, surplus flows up") {
    // groups a:10, b:100, c:1000 units; budget = 50% of 1110 = 555; cap 1.2x
    val df = (Seq(("a", 4L), ("a", 6L)) ++
      (1 to 10).map(_ => ("b", 10L)) ++
      (1 to 10).map(_ => ("c", 100L))).toDF("g", "units")
    val out = Filters.unimaxAllocation(df, "g", "units",
        budgetFracX100 = 50, capX100 = 120)
      .select("g", "n_units", "alloc_units", "epochs_x10000")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // ascending pass: a quota 555/3=185 -> cap 12; b quota 543/2=271 ->
    // cap 120; c quota 423/1 -> 423 (cap 1200 not binding)
    assert(out == Seq(("a", 10L, 12L, 12000L), ("b", 100L, 120L, 12000L),
      ("c", 1000L, 423L, 4230L)))
    // budget above total capacity: every group capped, leftover unallocated
    val capped = Filters.unimaxAllocation(df, "g", "units",
        budgetFracX100 = 200, capX100 = 110)
      .select("g", "alloc_units").as[(String, Long)].collect().toMap
    assert(capped == Map("a" -> 11L, "b" -> 110L, "c" -> 1100L))
    // layout independence (aggregation + driver greedy)
    val relaid = Filters.unimaxAllocation(df.repartition(7), "g", "units",
        budgetFracX100 = 50, capX100 = 120)
      .select("g", "n_units", "alloc_units", "epochs_x10000")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(relaid == out)
  }

  test("unimaxRepetitionPlan: full epochs + md5-prefix remainder, layout independent") {
    val rows = Seq(("a", 1L, 4L), ("a", 2L, 6L)) ++
      (1 to 10).map(i => ("b", 10L + i, 10L)) ++
      (1 to 10).map(i => ("c", 100L + i, 100L))
    val df = rows.toDF("g", "id", "units")
    def run(parts: Int) = Filters.unimaxRepetitionPlan(
        TestSpark.withShufflePartitions(df, parts), "g", "units",
        budgetFracX100 = 50, capX100 = 120, keyCols = Seq("id"))
      .select("id", "n_repeats").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val one = run(1)
    assert(run(7) == one)
    // JVM reference: allocations a=12, b=120, c=423 (the unimaxAllocation
    // test above) → full/rem: a 1/2, b 1/20, c 0/423; remainder docs in
    // portable md5 order
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(i: Long) = md.digest(s"$i|42".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def plan(ids: Seq[(Long, Long)], full: Long, rem: Long): Map[Long, Long] = {
      var cb = 0L
      ids.sortBy { case (i, _) => (h(i), i) }.map { case (i, u) =>
        val r = full + (if (cb < rem) 1L else 0L); cb += u; i -> r
      }.toMap
    }
    val expected = plan(Seq(1L -> 4L, 2L -> 6L), 1, 2) ++
      plan((1 to 10).map(i => (10L + i, 10L)), 1, 20) ++
      plan((1 to 10).map(i => (100L + i, 100L)), 0, 423)
    assert(one.toMap == expected)
    // the epoch cap survives materialization: max repeats ≤ ceil(1.2) = 2
    assert(one.map(_._2).max <= 2L)
  }

  test("rebalanceMixture: exact per-group counts, best rows kept, unlisted groups dropped") {
    val df = (
      (1L to 10L).map(i => ("web", i, i * 10)) ++    // 10 rows, weight .5
      (11L to 14L).map(i => ("books", i, i)) ++      //  4 rows, weight .25
      (15L to 20L).map(i => ("code", i, i)) ++       //  6 rows, weight .25
      Seq(("junk", 99L, 1L))                         // unlisted
    ).map { case (s, i, v) => (s, i, v.toLong) }.toDF("source", "id", "score")
    // T = min(10/.5, 4/.25, 6/.25) = min(20, 16, 24) = 16
    // keep: web floor(.5*16)=8, books 4, code 4
    val out = Filters.rebalanceMixture(df, "source",
      Map("web" -> 0.5, "books" -> 0.25, "code" -> 0.25), "score", "id")
    val bySource = out.select("source", "id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySource("web") == (3L to 10L).toSet)     // top 8 by score
    assert(bySource("books") == (11L to 14L).toSet)
    assert(bySource("code") == (17L to 20L).toSet)   // top 4 of 6
    assert(!bySource.contains("junk"))
  }

  test("rebalanceMixture with a weighted group absent from the data") {
    val df = Seq(("web", 1L, 5L), ("web", 2L, 6L)).toDF("source", "id", "score")
    // T = floor(2/0.5) = 4 from the only present group; web keeps floor(.5*4)=2
    val out = Filters.rebalanceMixture(df, "source",
      Map("web" -> 0.5, "ghost" -> 0.5), "score", "id")
    assert(out.count() == 2)
  }

  test("rebalanceMixture keys a non-string group column on its string form") {
    val rows = (1L to 12L).map(i => ((i % 3).toInt, i, (i * 7) % 5))
    val ints = rows.toDF("source", "id", "score")
    val strs = ints.withColumn("source", col("source").cast("string"))
    val weights = Map("0" -> 0.5, "1" -> 0.25, "2" -> 0.25)
    def kept(df: DataFrame): Set[Long] =
      Filters.rebalanceMixture(df, "source", weights, "score", "id")
        .select("id").as[Long].collect().toSet
    // T = min(4/.5, 4/.25, 4/.25) = 8: group 0 keeps 4, groups 1 and 2 keep 2
    assert(kept(strs).size == 8)
    assert(kept(ints) == kept(strs))
  }

  test("slidingChunks: clipped spans, overlap, zero-length docs emit nothing") {
    val df = Seq((1L, 25L), (2L, 10L), (3L, 0L)).toDF("id", "len")
    val out = Packing.slidingChunks(df, "len", window = 10, step = 5)
      .select("id", "chunk_idx", "chunk_start", "chunk_end")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 0, 0L, 10L), (1L, 1, 5L, 15L), (1L, 2, 10L, 20L),
      (1L, 3, 15L, 25L), (1L, 4, 20L, 25L),
      (2L, 0, 0L, 10L), (2L, 1, 5L, 10L)))
  }

  test("temperatureSample: sublinear keeps, small groups whole, md5-order replay") {
    val df = ((1L to 100L).map(i => ("big", i)) ++
      (101L to 104L).map(i => ("small", i))).toDF("lang", "id")
    val out = Filters.temperatureSample(df, "lang", c = 2.0,
      alphaQuarters = 2, keyCols = Seq("id"))
    val byLang = out.select("lang", "id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // big: min(100, floor(2*sqrt(100))) = 20; small: min(4, floor(2*2)) = 4
    assert(byLang("big").size == 20)
    assert(byLang("small") == (101L to 104L).toSet)
    // independent JVM replay of the md5 draw order for the big group
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(i: Long) = md.digest(s"$i|42".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = (1L to 100L).sortBy(i => (h(i), i)).take(20).toSet
    assert(byLang("big") == expected)
  }

  test("temperatureSample: alpha=1 reduces to a plain per-group cap; layout-independent") {
    val df = ((1L to 9L).map(i => ("a", i)) ++ (10L to 12L).map(i => ("b", i)))
      .toDF("lang", "id")
    val out = Filters.temperatureSample(df, "lang", c = 0.5,
      alphaQuarters = 4, keyCols = Seq("id"))
    // keep floor(0.5*n): a -> 4, b -> 1
    val sizes = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(sizes == Map("a" -> 4L, "b" -> 1L))
    val again = Filters.temperatureSample(df.repartition(5), "lang", c = 0.5,
      alphaQuarters = 4, keyCols = Seq("id"))
      .select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
  }

  test("temperatureSample plans ONE exchange: count rides the selection window") {
    val df = ((1L to 50L).map(i => ("a", i)) ++ (51L to 60L).map(i => ("b", i)))
      .toDF("lang", "id")
    val out = Filters.temperatureSample(df, "lang", c = 2.0,
      alphaQuarters = 2, keyCols = Seq("id"))
    out.collect()
    assert(graft.ops.Scale.countExchanges(out) == 1)
  }

  test("dataCard: all-integer per-group rollup with fingerprint dup mass") {
    val df = Seq(
      (1L, "a b", "en", "A"), (2L, "A  b", "fr", "A"), (3L, "ccc", "en", "A"),
      (4L, "dd", "en", "B"))
      .toDF("doc_id", "text", "lang", "source")
    val out = graft.text.TextStats.dataCard(df, "text", "source", Seq("lang"))
      .select("source", "n_docs", "total_chars", "min_chars", "max_chars",
        "mean_chars_x100", "n_distinct_texts", "n_dup_docs", "n_distinct_lang")
      .as[(String, Long, Long, Int, Int, Long, Int, Int, Int)]
      .collect().sortBy(_._1).toSeq
    // A: lengths 3,4,3 -> total 10, mean 333; "a b" ≡ "A  b" normalized -> 2 distinct, 1 dup
    assert(out == Seq(
      ("A", 3L, 10L, 3, 4, 333L, 2, 1, 2),
      ("B", 1L, 2L, 2, 2, 200L, 1, 0, 1)))
  }
}
