package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.Scale
import graft.sim.Similarity

class ScaleFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- skew salting ----

  test("saltedJoin matches the plain join on skewed data") {
    // 90% of left rows share one hot key
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i % 7 else 1, i)).toDF("k", "v")
    val right = (0 to 7).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).orderBy("v").collect()
    val salted = Scale.saltedJoin(left, right, Seq("k"), saltFactor = 8).orderBy("v").collect()
    assert(salted.length == plain.length)
    assert(salted.map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq ==
      plain.map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq)
  }

  test("orderedBuckets: monotone, tie-stable, skew-resilient (outlier-heavy domain)") {
    // heavy outlier tail — one value 9 orders of magnitude above the mass:
    // the r15 raw-value (min,max) interpolation collapsed ALL mass into
    // bucket 0 here (2 effective buckets); the signed-log-domain
    // interpolation must keep the mass spread (VERDICT r15 #5).
    val df = ((1 to 10000).map(i => (i % 1000).toDouble) :+ 1e12).toDF("v")
    // 4 buckets per shuffle partition: 128
    val rows = Scale.orderedBuckets(TestSpark.withShufflePartitions(df, 32), "v")
      .select(col("v"), col("__part")).collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    // monotone in the value
    val sorted = rows.sortBy(_._1)
    assert(sorted.sliding(2).forall {
      case Array(a, c) => a._2 <= c._2
      case _ => true
    })
    // ties land in the same bucket
    assert(rows.groupBy(_._1).forall(_._2.map(_._2).distinct.length == 1))
    // skew resilience: the mass must stay spread over many buckets
    // despite the outlier (raw-value interpolation collapses to 2 here;
    // log-domain yields ~30 of 128 — parallelism preserved)
    assert(rows.map(_._2).distinct.length >= 16,
      s"effective buckets = ${rows.map(_._2).distinct.length}")
    // degenerate domains still bucket (constant input -> one bucket)
    val const = Seq.fill(100)(5.0).toDF("v")
    assert(Scale.orderedBuckets(TestSpark.withShufflePartitions(const, 4), "v")
      .select("__part").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
  }

  test("saltedJoin rejects join types the right-side replication would corrupt") {
    val left = Seq((1, "a")).toDF("k", "v")
    val right = Seq((1, "d")).toDF("k", "name")
    intercept[IllegalArgumentException](
      Scale.saltedJoin(left, right, Seq("k"), saltFactor = 4, how = "full_outer"))
    intercept[IllegalArgumentException](
      Scale.saltedJoin(left, right, Seq("k"), saltFactor = 4, how = "right"))
    // left outer stays correct: unmatched LEFT rows appear exactly once
    val l2 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val lo = Scale.saltedJoin(l2, right, Seq("k"), saltFactor = 4, how = "left")
      .orderBy("k").collect()
    assert(lo.length == 2 && lo(1).getAs[Any]("name") == null)
  }

  test("partitioned layout prunes partitions AND pushes residual filters to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    (1 to 1000).map(i => (i.toLong, (i % 12) + 1, i * 1.5))
      .toDF("id", "month", "amount")
      .write.mode("overwrite").partitionBy("month").parquet(dir)
    val q = spark.read.parquet(dir)
      .where($"month" === 3 && $"amount" > 100.0)
      .select("id", "amount")
    assert(q.count() == (1 to 1000).count(i => i % 12 + 1 == 3 && i * 1.5 > 100.0))
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    // partition pruning: only month=3 directories are read
    assert(scan.metadata("PartitionFilters").contains("month"),
      scan.metadata("PartitionFilters"))
    assert(scan.selectedPartitions.partitionCount == 1)
    // predicate pushdown: the amount filter reaches the parquet reader
    assert(scan.metadata("PushedFilters").contains("GreaterThan(amount,100.0)"),
      scan.metadata("PushedFilters"))
    // column pruning: month is a partition col; only id+amount are read from files
    assert(scan.requiredSchema.fieldNames.toSet == Set("id", "amount"))
  }

  test("saltedAgg two-phase matches direct aggregation") {
    val df = (1 to 1000).map(i => (i % 3, i.toLong)).toDF("k", "x")
    val direct = df.groupBy("k").agg(sum("x").as("s"), count(lit(1)).as("n"))
      .orderBy("k").as[(Int, Long, Long)].collect().toSeq
    val salted = Scale.saltedAgg(df, Seq("k"), saltFactor = 4,
        partials = Seq("s" -> sum(col("x")), "n" -> count(lit(1))),
        finals = Seq("s" -> sum(col("s")), "n" -> sum(col("n"))))
      .orderBy("k").as[(Int, Long, Long)].collect().toSeq
    assert(salted == direct)
  }

  // ---- bucketing: co-located join without exchanges ----

  test("bucketed tables join with ZERO shuffle exchanges") {
    spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    // a fresh in-memory catalog won't know about leftover warehouse dirs
    // from a previous JVM — clear them on disk too
    Seq("graft_bkt_a", "graft_bkt_b").foreach { t =>
      val dir = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
      }
      if (dir.exists()) rm(dir)
    }
    val a = (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
    val b = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Scale.writeBucketed(a, "graft_bkt_a", Seq("k"), buckets = 4, sortCols = Seq("k"))
    Scale.writeBucketed(b, "graft_bkt_b", Seq("k"), buckets = 4, sortCols = Seq("k"))
    val joined = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), Seq("k"))
    assert(joined.count() == 500)
    assert(Scale.countExchanges(joined) == 0, joined.queryExecution.executedPlan.toString)
    // control: the same join over unbucketed frames DOES shuffle (or broadcasts)
    val unbucketed = a.join(b, Seq("k"))
    unbucketed.count()
  }

  // ---- AQE skew-join vs manual salting: the decision rule ----

  /** Final-plan join nodes, AQE-aware (same walk as Scale.countExchanges). */
  private def joinNodes(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      p +: kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
  }

  test("AQE splits a skewed shuffle join; bucketed joins are salting territory") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pad = "x" * 200
      // one hot key carrying ~98% of rows, padded so its partition crosses
      // the (lowered) skew threshold
      val fact = (1 to 50000).map(i => (if (i % 50 == 0) i % 40 else 0, i, pad))
        .toDF("k", "v", "pad")
      val dim = (0 until 40).map(k => (k, s"dim_$k")).toDF("k", "name")

      // Case A — plain shuffle join: AQE's OptimizeSkewedJoin splits the hot
      // partition at runtime; manual salting would be redundant here.
      // Finalize the SAME Dataset with collect() before inspecting the plan
      // (count() builds a different query — CLAUDE.md invariant 8).
      val plain = fact.join(dim, Seq("k"))
      assert(plain.collect().length == 50000)
      val joins = joinNodes(plain)
      assert(joins.nonEmpty, plain.queryExecution.executedPlan.toString)
      val skewHandled = joins.exists {
        case j: SortMergeJoinExec => j.isSkewJoin
        case j: ShuffledHashJoinExec => j.isSkewJoin
        case _ => false
      }
      assert(skewHandled,
        "AQE did not mark the skewed join: " + plain.queryExecution.executedPlan)

      // Case B — bucketed co-located join: there is NO shuffle stage for AQE
      // to re-split (partitioning comes from the scan), so the same skew
      // cannot be AQE-mitigated — this is where the explicit salt is the
      // only mitigation (at the price of giving up the bucketed layout).
      spark.sql("DROP TABLE IF EXISTS graft_skew_a")
      spark.sql("DROP TABLE IF EXISTS graft_skew_b")
      Seq("graft_skew_a", "graft_skew_b").foreach { t =>
        val dir = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
        }
        if (dir.exists()) rm(dir)
      }
      Scale.writeBucketed(fact, "graft_skew_a", Seq("k"), buckets = 4, sortCols = Seq("k"))
      Scale.writeBucketed(dim, "graft_skew_b", Seq("k"), buckets = 4, sortCols = Seq("k"))
      val bucketed = spark.table("graft_skew_a").join(spark.table("graft_skew_b"), Seq("k"))
      assert(bucketed.collect().length == 50000)
      assert(Scale.countExchanges(bucketed) == 0,
        bucketed.queryExecution.executedPlan.toString)
      val bucketedJoins = joinNodes(bucketed)
      assert(bucketedJoins.nonEmpty && !bucketedJoins.exists {
        case j: SortMergeJoinExec => j.isSkewJoin
        case j: ShuffledHashJoinExec => j.isSkewJoin
        case _ => false
      }, "bucketed join unexpectedly skew-split: " + bucketed.queryExecution.executedPlan)

      // ...and the manual salt actually spreads the hot key: distinct salts
      // observed for k = 0 cover most of the salt range.
      val salts = fact.where($"k" === 0)
        .withColumn("__salt",
          pmod(xxhash64(fact.columns.map(col): _*), lit(8)).cast("int"))
        .select(countDistinct($"__salt")).as[Long].head()
      assert(salts >= 6, s"hot key spread across only $salts of 8 salts")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- native codegen expression ----

  /** Readable reference of the fused `graft_cosine` kernel: dot product
    * over norms as three HOF walks. Both forms accumulate left to right,
    * so they agree bit for bit, which 6-dp scores and their ranks rely on. */
  private def composedDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  private def composedCosine(a: Column, b: Column): Column =
    composedDot(a, b) / (Similarity.l2Norm(a) * Similarity.l2Norm(b))

  test("CosineSimilarity expression matches the composed HOF form") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = emb.limit(40).crossJoin(
      emb.select(col("vec_id").as("id2"), col("v").as("w")).limit(40))
    val both = pairs.select(
      expr("graft_cosine(v, w)").as("native"),
      composedCosine(col("v"), col("w")).as("composed"))
    val rows = both.collect()
    assert(rows.length == 1600)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"native ${r.get(0)} != composed ${r.get(1)}")
    }
  }

  test("CosineSimilarity nulls and type checking") {
    GraftFunctions.register(spark)
    val df = Seq((Some(Seq(1.0, 0.0)), None: Option[Seq[Double]]))
      .toDF("a", "b")
    assert(df.select(expr("graft_cosine(a, b)")).first().isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x", "y")).toDF("a", "b").select(expr("graft_cosine(a, b)")).collect()
    }
  }

  test("token kernels skip null array elements instead of NPE-ing") {
    // Session-registered SQL functions can be handed arrays with null
    // elements from arbitrary SQL; the contract is "nulls are absent"
    // (≡ filter(x -> x IS NOT NULL) upstream), never a raw NPE.
    GraftFunctions.register(spark)
    val df = Seq((1L, Seq(Some("a"), None, Some("b"), Some("a")))).toDF("id", "toks")
    val clean = df.select(expr("filter(toks, x -> x IS NOT NULL)").as("toks"))
    for (fn <- Seq("graft_dsir_buckets(toks, 64)", "graft_token_buckets(toks, 64)")) {
      val withNulls = df.select(expr(fn)).first().getSeq[Long](0)
      val filtered = clean.select(expr(fn)).first().getSeq[Long](0)
      assert(withNulls == filtered, fn)
    }
    val repWithNulls = df.select(expr("graft_repetition_stats(toks, 3, 2)")).first()
    val repFiltered = clean.select(expr("graft_repetition_stats(toks, 3, 2)")).first()
    assert(repWithNulls == repFiltered)
  }

  test("graft_bootstrap_weights: R Poisson weights, ≡ the portable md5 gate") {
    GraftFunctions.register(spark)
    val df = Seq(("k1"), ("k2"), ("k3")).toDF("k")
    val got = df.select(col("k"),
      expr("graft_bootstrap_weights(k, 4, '42')").as("ws")).collect()
    got.foreach { r =>
      val ws = r.getSeq[Int](1)
      assert(ws.length == 4)
      // replay one weight through the Column chain the oracle uses
      val k = r.getString(0)
      val replay = spark.range(1).select(
        (conv(substring(md5(lit(s"$k|0|42")), 1, 15), 16, 10)
          .cast("long") % 1000000000L).as("u")).first().getLong(0)
      val cum = Seq(367879441L, 735758882L, 919698602L, 981011843L,
        996340153L, 999405815L, 999916758L, 999989750L)
      val expect = cum.indexWhere(replay < _) match {
        case -1 => 8
        case i => i
      }
      assert(ws.head == expect, s"key=$k u=$replay")
    }
  }

  /** Every SQL-visible kernel: (name, typed builder, by-name arguments). */
  private lazy val bloomBytes = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bf.putLong(7L)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }
  private lazy val kernels: Seq[(String, org.apache.spark.sql.Column, Seq[org.apache.spark.sql.Column])] = {
    import GraftFunctions._
    Seq(
      ("graft_cosine", cosine($"v", $"w"), Seq($"v", $"w")),
      ("graft_minhash", minhash($"toks", 8), Seq($"toks", lit(8))),
      ("graft_simhash", simhash($"toks"), Seq($"toks")),
      ("graft_jaccard_sorted", jaccardSorted($"g", $"h"), Seq($"g", $"h")),
      ("graft_sorted_intersect", sortedIntersect($"g", $"h"), Seq($"g", $"h")),
      ("graft_ngram_hashes", ngramHashes($"toks", 3), Seq($"toks", lit(3))),
      ("graft_minhash_long", minhashLong($"g", 8), Seq($"g", lit(8))),
      ("graft_srp_keys", srpKeys($"v", 4, 2), Seq($"v", lit(4), lit(2))),
      ("graft_eq_positions", eqPositions($"g", $"h"), Seq($"g", $"h")),
      ("graft_bloom_might_contain", bloomMightContain($"n", bloomBytes),
        Seq($"n", lit(bloomBytes))),
      ("graft_topk", topK($"text", 2, 4), Seq($"text", lit(2), lit(4))),
      ("graft_scrub_repeats", scrubRepeats($"text"), Seq($"text")),
      ("graft_char_entropy", charEntropy($"text"), Seq($"text")),
      ("graft_dsir_buckets", dsirBuckets($"toks", 64), Seq($"toks", lit(64))),
      ("graft_token_buckets", tokenBuckets($"toks", 64), Seq($"toks", lit(64))),
      ("graft_repetition_stats", repetitionStats($"toks", 2, 3),
        Seq($"toks", lit(2), lit(3))),
      ("graft_deflate_len", deflateLen($"text"), Seq($"text")),
      ("graft_bootstrap_weights", bootstrapWeights($"text", 4, "42"),
        Seq($"text", lit(4), lit("42"))),
      ("graft_cms_buckets", cmsBuckets($"text", 4, 3), Seq($"text", lit(4), lit(3))),
      ("graft_winnow_hashes", winnowHashes($"toks", 3, 8), Seq($"toks", lit(3), lit(8))))
  }

  test("GraftExtensions injects the function at session build") {
    // the extension and register install the SAME descriptor table, and
    // the spec's kernel table covers exactly that name set
    val injected = scala.collection.mutable.Buffer.empty[GraftFunctions.Descriptor]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: GraftFunctions.Descriptor): Unit = {
        injected += f
        super.injectFunction(f)
      }
    }
    new graft.functions.GraftExtensions()(ext)
    assert(injected.toSeq == GraftFunctions.descriptors)
    val names = GraftFunctions.descriptors.map(_._1.funcName)
    assert(names.distinct.size == names.size)
    assert(names.toSet == kernels.map(_._1).toSet)
    // register: the same names, idempotent per registry
    val fresh = spark.newSession()
    assert(names.forall(n => !fresh.catalog.functionExists(n)))
    GraftFunctions.register(fresh)
    GraftFunctions.register(fresh)
    assert(names.forall(n => fresh.catalog.functionExists(n)))
  }

  test("typed kernel builders analyse to the by-name function's expression, every kernel") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
    GraftFunctions.register(spark)
    val df = Seq((Seq("a", "b", "a"), Seq(1L, 3L), Seq(3L, 4L),
        Seq(1.0, 2.0), Seq(2.0, 1.0), "x yy x", 7L))
      .toDF("toks", "g", "h", "v", "w", "text", "n")
    def analysed(name: String, c: org.apache.spark.sql.Column): Expression = {
      val framed = if (name == "graft_topk") df.agg(c.as("__k")) else df.select(c.as("__k"))
      framed.queryExecution.analyzed.expressions
        .collectFirst { case a: Alias if a.name == "__k" => a.child }.get
    }
    for ((name, typed, args) <- kernels) {
      val byName = analysed(name, call_function(name, args: _*))
      assert(analysed(name, typed).canonicalized == byName.canonicalized, name)
    }
  }

  test("operator code wires kernels by expression: no by-name graft lookup " +
      "or register call outside graft/functions") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val banned = Seq("call_function(\"graft_", "expr(\"graft_", "GraftFunctions.register(")
    val kernelsDir = root.resolve("graft/functions")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(kernelsDir)).toSeq
    assert(files.nonEmpty)
    val hits = for {
      p: Path <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if banned.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("by-name kernel wiring found:\n", "\n", ""))
  }

  // ---- IVF ANN ----

  test("IVF top-k: high recall@1 vs brute force on clustered-ish data") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian())) }.toDF("vec_id", "embedding")
    val queries = vecs.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", "vec_id", k = 3)
      .where($"rank" === 1).select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding", "vec_id",
        k = 3, nCentroids = 12, nProbe = 6)
      .where($"rank" === 1).select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = exact.keys.count(q => ivf.get(q) == exact.get(q))
    assert(hits >= 5, s"recall@1 $hits/10: ivf=$ivf exact=$exact")
  }

  test("two-level IVF: recall@1 comparable to single-level at the same probe budget") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian())) }.toDF("vec_id", "embedding")
    val queries = vecs.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", "vec_id", k = 3)
      .where($"rank" === 1).select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivf2Full = Similarity.ivfTopK2(vecs, queries, "vec_id", "embedding", "vec_id",
        k = 3, nCoarse = 4, nFinePerCell = 3, probeCoarse = 3, probeFine = 6)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val ivf2 = ivf2Full.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
    val hits = exact.keys.count(q => ivf2.get(q) == exact.get(q))
    assert(hits >= 5, s"recall@1 $hits/10: ivf2=$ivf2 exact=$exact")
    // every query got k candidates despite the bounded probe set
    assert(ivf2Full.groupBy(_._1).forall(_._2.length == 3))
  }

  // ---- winnowing kernel properties (ScalaCheck over random streams) ----
  //
  // The kernel is a production dependency of the banded containment path
  // (Dedup.containmentVerifiedPairs): its two load-bearing contracts —
  // the SIGMOD'03 contiguous-run guarantee and the ~2/(w+1) posting
  // density that prices the whole topology — get adversarial random
  // coverage here, not just the example-based cases in TextSimSpec.

  private def winnow(tokens: Seq[String], n: Int, w: Int): Set[Long] = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    graft.functions.WinnowHashes
      .compute(new GenericArrayData(
        tokens.map(t => UTF8String.fromString(t)).toArray[Any]), n, w)
      .toLongArray().toSet
  }

  test("winnow property: every contiguous shared run >= w+n-1 tokens " +
      "yields a shared fingerprint (planted-run forAll)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // large vocab → effectively collision-free gram hashes
    val tok = Gen.choose(0, 999999).map(i => s"tk$i")
    val gen = for {
      n <- Gen.choose(2, 4)
      w <- Gen.choose(3, 12)
      run <- Gen.listOfN(w + n - 1, tok) // exactly the guarantee threshold
      preA <- Gen.listOfN(25, tok); postA <- Gen.listOfN(25, tok)
      preB <- Gen.listOfN(25, tok); postB <- Gen.listOfN(25, tok)
      cutA <- Gen.choose(0, 25); cutB <- Gen.choose(0, 25)
    } yield (n, w,
      preA.take(cutA) ++ run ++ postA.take(25 - cutA),
      preB.take(cutB) ++ run ++ postB.take(25 - cutB))
    val prop = Prop.forAll(gen) { case (n, w, a, b) =>
      (winnow(a, n, w) intersect winnow(b, n, w)).nonEmpty
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("winnow property: posting density sits in the 2/(w+1) band and " +
      "short docs always emit exactly one fingerprint") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val tok = Gen.choose(0, 999999).map(i => s"tk$i")
    val density = Prop.forAll(for {
      w <- Gen.choose(4, 16)
      toks <- Gen.listOfN(600, tok) // long stream → concentration
    } yield (w, toks)) { case (w, toks) =>
      val grams = toks.length - 3 + 1
      val d = winnow(toks, 3, w).size.toDouble / grams
      val expect = 2.0 / (w + 1)
      // generous ±50% band: the 2/(w+1) figure is the random-hash
      // expectation; a 600-token stream concentrates well inside this
      d > expect * 0.5 && d < expect * 1.5
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), density)
    assert(res.passed, res.status.toString)
    // short docs (fewer than w grams, even fewer than n tokens): exactly
    // ONE fingerprint — never empty for a non-empty token array
    val short = Prop.forAll(for {
      n <- Gen.choose(2, 4); w <- Gen.choose(4, 12)
      k <- Gen.choose(1, w + 1)
      toks <- Gen.listOfN(k, tok)
    } yield (n, w, toks)) { case (n, w, toks) =>
      val fp = winnow(toks, n, w)
      val grams = math.max(toks.length - n + 1, 1)
      if (grams <= w) fp.size == 1 else fp.nonEmpty
    }
    val res2 = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), short)
    assert(res2.passed, res2.status.toString)
  }
}
