package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.features.Features
import graft.ops.{Filters, Scale, Stats}
import graft.text.Packing

/** The distributed prefix sum (slice → offsets → local window) behind
  * the packing, mixture, ranking and CDF operators. */
class PrefixSumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("prefix-sum operators keep their plan shape: Spark jobs and Exchanges per op") {
    // a session of its own: conf set by other suites on the shared
    // session never reaches these plans
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    import s.implicits._
    val rng = new scala.util.Random(5)
    val docs = (1L to 60L).map(i => (i, rng.nextInt(40))).toDF("id", "n_tok")
    val scored = (1L to 60L).map(i => (i, rng.nextInt(9).toLong, rng.nextInt(2)))
      .toDF("id", "score", "label")
    val grouped = (1L to 60L).map(i => (s"g${i % 3}", i, (i % 7) + 1))
      .toDF("g", "id", "units")
    val values = (1 to 60).map(i => (i % 11) * 2.5 + (if (i == 60) 1e6 else 0.0))
      .toDF("v")
    val counts = (0 until 30).map(v => (v.toLong, (v % 4).toLong, (v % 5).toLong))
      .toDF("v", "a", "b")
    val cohorts = (1 to 60).map(i => ((i % 13) * 1.5, if (i % 3 == 0) "a" else "b"))
      .toDF("v", "grp")
    val orders = (1 to 60).map(i =>
        (i % 12L, java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d"), i * 1.25))
      .toDF("cust", "day", "amount")
    // (op, its frame, Spark jobs from the call through collect, Exchanges
    // of the finalized frame, invariant 8) — recorded when each op still
    // spelled out its own slices and offsets; a changed count is a plan
    // change and needs its own measurement
    val cases: Seq[(String, () => DataFrame, Int, Int)] = Seq(
      ("Packing.chunkAssignments",
        () => Packing.chunkAssignments(docs, "id", "n_tok", 16), 8, 3),
      ("Packing.shardAssignments",
        () => Packing.shardAssignments(docs, "id", 8), 8, 3),
      ("Packing.lengthBuckets",
        () => Packing.lengthBuckets(docs, "id", "n_tok", 4, 32, 64), 8, 3),
      ("Packing.curriculumOrder",
        () => Packing.curriculumOrder(scored, "id", "score"), 8, 3),
      ("Filters.unimaxRepetitionPlan",
        () => Filters.unimaxRepetitionPlan(grouped, "g", "units", 50, 120, Seq("id")), 11, 3),
      ("Stats.bhDiscoveries",
        () => Stats.bhDiscoveries(scored, "score", Seq("id"), 50000L), 17, 5),
      ("Stats.giniCoefficient", () => Stats.giniCoefficient(values, "v"), 10, 5),
      ("Stats.lorenzCurve", () => Stats.lorenzCurve(values, "v"), 10, 4),
      ("Features.liftTable",
        () => Features.liftTable(scored, "score", "label", 5, "id"), 11, 5),
      ("Features.rfmScores (ntileScore ×3)",
        () => Features.rfmScores(orders, "cust", "day", "amount", "2024-02-01"), 24, 6),
      ("Features.robustStats", () => Features.robustStats(values, "v"), 14, 7),
      ("Features.madStats (medianOfCounts ×2)", () => Features.madStats(values, "v"), 28, 10),
      ("Features.ksFromCounts (cdfFromCounts)",
        () => Features.ksFromCounts(counts, "v", "a", "b"), 9, 5),
      // recorded before the histogram, CDF and KS steps became shared helpers
      ("Features.ksStatistic (twoSampleCdf)",
        () => Features.ksStatistic(cohorts, "v", "grp", "a", "b"), 10, 5),
      ("Features.cramerVonMises (twoSampleCdf)",
        () => Features.cramerVonMises(cohorts, "v", "grp", "a", "b"), 10, 5),
      ("Features.mannWhitney (twoSampleCdf)",
        () => Features.mannWhitney(cohorts, "v", "grp", "a", "b"), 10, 5),
      ("Filters.topFractionByGroupExact",
        () => Filters.topFractionByGroupExact(grouped, "g", "units", 0.3, "id"), 6, 3),
      ("Filters.rankBucketsExact",
        () => Filters.rankBucketsExact(grouped, "g", "units", 4, "id"), 5, 2))
    val got = cases.map { case (name, op, _, _) =>
      val (df, jobs) = TestSpark.jobsOf { val df = op(); df.collect(); df }
      (name, jobs, Scale.countExchanges(df))
    }
    assert(got == cases.map { case (name, _, jobs, exchanges) => (name, jobs, exchanges) })
  }

  /** Per-row `(key, prefix…)` of `df` collected as a map keyed on `key`. */
  private def byKey(df: DataFrame, key: String, cols: Seq[String]): Map[Long, Seq[Any]] =
    df.select(col(key) +: cols.map(col): _*).collect()
      .map(r => r.getLong(0) -> (1 to cols.size).map(r.get)).toMap

  test("rangeSlices + sliceOffsets + a slice-local window equal one global window: " +
      "ties, groups, 1/3/8 slices, empty and one-row inputs") {
    val rng = new scala.util.Random(11)
    val base = spark.createDataFrame((1L to 400L).map(i =>
        (i, s"g${rng.nextInt(3)}", rng.nextInt(12), rng.nextInt(100).toLong)))
      .toDF("id", "g", "k", "x")
    for (parts <- Seq(1, 3, 8); groups <- Seq(Nil, Seq("g")); n <- Seq(400L, 1L, 0L)) {
      val df = TestSpark.withShufflePartitions(base, parts).where(col("id") <= n)
      val ctx = s"parts=$parts groups=$groups n=$n"
      // order on k alone: ties share a slice, so a RANGE-frame local
      // window plus the earlier slices' total is the global RANGE window
      val sliced = Scale.rangeSlices(df, groups.map(col) :+ col("k"))
      val local = Window.partitionBy(("__part" +: groups).map(col): _*).orderBy("k")
      val got = Scale.sliceOffsets(sliced,
          Seq("__x" -> sum("x"), "__rows" -> count(lit(1))), groupBy = groups)
        .select(col("id"),
          (col("__x_before") + sum("x").over(local)).as("cum"),
          (col("__rows_before") + rank().over(local)).as("rk"),
          col("__x_total"), col("__rows_total"))
      val global = Window.partitionBy(groups.map(col): _*).orderBy("k")
      val all = Window.partitionBy(groups.map(col): _*)
      val ref = df.select(col("id"), sum("x").over(global).as("cum"),
        rank().over(global).cast("long").as("rk"),
        sum("x").over(all).as("__x_total"), count(lit(1)).over(all).as("__rows_total"))
      val cols = Seq("cum", "rk", "__x_total", "__rows_total")
      val want = byKey(ref, "id", cols)
      assert(want.size == n, ctx)
      assert(byKey(got, "id", cols) == want, ctx)
      // sorted slices: the row-position rank over a total order is
      // row_number of one global window
      if (groups.isEmpty) {
        val order = Seq(col("k"), col("id"))
        val pos = Scale.sliceOffsets(Scale.rangeSlices(df, order, sorted = true)
            .withColumn("__lrk", monotonically_increasing_id()
              .bitwiseAND(lit((1L << 33) - 1)) + 1L),
            Seq("__rows" -> count(lit(1))))
          .select(col("id"), (col("__rows_before") + col("__lrk")).as("pos"))
        assert(byKey(pos, "id", Seq("pos")) ==
          byKey(df.select(col("id"), row_number().over(Window.orderBy(order: _*))
            .cast("long").as("pos")), "id", Seq("pos")), ctx)
      }
    }
  }

  test("orderedBuckets + sliceOffsets equal one global window: all-equal, " +
      "outlier-heavy and tied columns, 1/3/8 shuffle partitions") {
    val rng = new scala.util.Random(3)
    val columns: Seq[(String, Seq[Double])] = Seq(
      "all-equal" -> Seq.fill(200)(5.0),
      "outlier-heavy" -> ((1 to 300).map(i => (i % 100).toDouble) ++ Seq(1e12, -1e9)),
      "ties" -> Seq.fill(300)(rng.nextInt(20) - 10.0),
      "one-row" -> Seq(7.0),
      "empty" -> Nil)
    for (parts <- Seq(1, 3, 8); (name, vs) <- columns) {
      val df = TestSpark.withShufflePartitions(
        spark.createDataFrame(vs.zipWithIndex.map { case (v, i) => (i.toLong, v) })
          .toDF("id", "v"), parts)
      val local = Window.partitionBy("__part").orderBy("v")
      val got = Scale.sliceOffsets(Scale.orderedBuckets(df, "v"), Seq("__rows" -> count(lit(1))))
        .select(col("id"), (col("__rows_before") + count(lit(1)).over(local)).as("cum"),
          col("__rows_total"))
      val ref = df.select(col("id"), count(lit(1)).over(Window.orderBy("v")).as("cum"),
        count(lit(1)).over(Window.partitionBy()).as("__rows_total"))
      val cols = Seq("cum", "__rows_total")
      assert(byKey(got, "id", cols) == byKey(ref, "id", cols), s"$name parts=$parts")
    }
  }

  test("one distributed prefix sum: spark_partition_id() appears only in Scale " +
      "and the as-of slice carry") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val scale = root.resolve("graft/ops/Scale.scala")
    // Joins.pointInTimeJoinSkewSafe: a prefix-MAX carry over range slices
    val asofCarry = (root.resolve("graft/ops/Joins.scala"),
      """.withColumn("__slice", spark_partition_id())""")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != scale).toSeq
    assert(files.nonEmpty)
    val hits = for {
      p: Path <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("spark_partition_id()") && (p, line.trim) != asofCarry
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString(
      "range slices outside Scale.rangeSlices (use rangeSlices + sliceOffsets):\n", "\n", ""))
  }

  test("one count table, running count, nearest rank, rank and md5 gate: their " +
      "hand copies appear only in the helpers") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val scale = root.resolve("graft/ops/Scale.scala")
    val features = root.resolve("graft/features/Features.scala")
    // (file, code line) → why it may spell the step out
    val exempt: Map[(Path, String), String] = Map(
      (scale, """val local = Window.partitionBy("__part").orderBy("__v")""") ->
        "Scale.cumulativeCounts: the running count over value buckets",
      (scale, "col(\"__rows_before\") + row_number().over(") ->
        "Scale.sliceRank: the row-position rank over range slices",
      (features, """max(when(col("__rn") === ceil(col("__n") * p), dec(col(valueCol))))""") ->
        "Features.nearestRanks: the nearest-rank rule on a group window",
      (features, "monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) + 1L),") ->
        "Features.rankedSlices: sliceRank's row_number over __part would re-shuffle its pinned slices",
      (root.resolve("graft/Queries.scala"), """substring(md5(col("blob")), 1, 8).as("shard_key"),""") ->
        "Queries.qMmBinaryMeta: an 8-hex shard-key prefix, not the 15-hex gate")
    val banned = Seq(
      "the md5 gate (Exprs.md5Gate)" -> """substring\(md5\(""".r,
      "a value-bucket running count (Scale.cumulativeCounts)" ->
        """partitionBy\("__part"\)\s*\.orderBy\((col\()?"__v"""".r,
      "a window nearest rank (Features.nearestRanks)" -> """ceil\(col\("__n"\) \*""".r,
      "a slice rank (Scale.sliceRank)" -> """monotonically_increasing_id\(\)""".r)
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val found = for {
      p <- files
      text = new String(Files.readAllBytes(p), "UTF-8")
      lines = text.split("\n", -1)
      // a row_number over a window partitioned by __part, inline or via a val
      partVals = """val (\w+) = Window\.partitionBy\(\(?"__part"""".r
        .findAllMatchIn(text).map(_.group(1)).toSeq
      rowNumber = ("""row_number\(\)\.over\(\s*(Window\.partitionBy\(\(?"__part"""" +
        partVals.map(v => s"|$v\\b").mkString + ")").r
      (what, re) <- banned :+ ("a slice rank (Scale.sliceRank)" -> rowNumber)
      m <- re.findAllMatchIn(text)
      i = text.substring(0, m.start).count(_ == '\n')
      code = lines(i).split("//", 2)(0).trim
      at = m.start - text.lastIndexOf('\n', m.start - 1) - 1
      comment = lines(i).indexOf("//")
      if !code.startsWith("*") && !code.startsWith("/*") && (comment < 0 || at < comment)
    } yield (p, code, i, what)
    val bad = found.collect { case (p, code, i, what) if !exempt.contains((p, code)) =>
      s"$p:${i + 1}: $code  — use $what" }
    assert(bad.isEmpty, bad.mkString(
      "a hand-copied statistics or sampling step outside its helper:\n", "\n", ""))
    val stale = exempt.keySet -- found.map { case (p, code, _, _) => (p, code) }
    assert(stale.isEmpty, s"exemptions that match no line: $stale")
  }
}
