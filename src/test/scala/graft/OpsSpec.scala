package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Aggregations, Filters, Joins, Windows}

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- rolling windows: ROWS frames over gapped months (SURVEY §7.5) ----

  test("rolling stats use ROWS frames: a gap does NOT reset the window") {
    // customer 1 is missing 2024-02: the 3-row frame at 2024-04 spans Jan..Apr
    val df = Seq(
      (1, "2024-01-01", 10.0), (1, "2024-03-01", 20.0), (1, "2024-04-01", 30.0),
      (2, "2024-01-01", 5.0))
      .toDF("id", "dt", "x").withColumn("dt", $"dt".cast("date"))
    val out = Windows.withRollingStats(df, "id", "dt", Seq("x"), Nil, Seq(3))
      .orderBy("id", "dt")
      .select("x_ravg_3m").as[Double].collect()
    assert(out(0) == 10.0)            // 1 row
    assert(out(1) == 15.0)            // Jan+Mar (gap ignored — row frame)
    assert(out(2) == 20.0)            // Jan+Mar+Apr
    assert(out(3) == 5.0)
  }

  test("sessionize: 30-min gaps split sessions, per-entity numbering") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1L), (1L, "2024-01-01 10:10:00", 2L),
      (1L, "2024-01-01 11:00:00", 3L), // 50-min gap → new session
      (1L, "2024-01-01 11:20:00", 4L),
      (2L, "2024-01-01 10:00:00", 5L))
      .toDF("user_id", "ts", "event_id")
      .withColumn("ts", $"ts".cast("timestamp"))
    val out = Windows.sessionize(df, "user_id", "ts",
        gapMicros = 30L * 60 * 1000000, tiebreak = Seq("event_id"))
      .orderBy("event_id").select("session_seq").as[Long].collect()
    assert(out.toSeq == Seq(1L, 1L, 2L, 2L, 1L))
  }

  test("sessionize property: matches a reference in-memory sessionizer on random data") {
    val rnd = new scala.util.Random(7)
    val gapUs = 1000L * 1000 * 60 // 1 minute
    val rows = (1 to 800).map { i =>
      val user = rnd.nextInt(5).toLong
      val tsUs = rnd.nextLong(4L * 3600 * 1000000).abs // 4h span
      (user, new java.sql.Timestamp(tsUs / 1000), i.toLong)
    }
    val df = rows.toDF("user_id", "ts", "event_id")
    val got = Windows.sessionize(df, "user_id", "ts", gapUs, tiebreak = Seq("event_id"))
      .select("user_id", "event_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap
    val expected = rows.groupBy(_._1).view.mapValues { es =>
      val sorted = es.map(e => e._2.getTime * 1000).sorted
      1L + sorted.sliding(2).count(p => p.size == 2 && p(1) - p(0) > gapUs)
    }.toMap
    assert(got == expected)
  }

  test("rangeJoin property: random values/intervals/binWidths match the naive join") {
    val rnd = new scala.util.Random(13)
    val values = (1 to 300).map(i => (i.toLong, rnd.nextDouble() * 200 - 100)).toDF("id", "v")
    val intervals = (1 to 40).map { b =>
      val lo = rnd.nextDouble() * 180 - 100
      (b.toLong, lo, lo + rnd.nextDouble() * 30)
    }.toDF("band_id", "lo", "hi")
    for (w <- Seq(0.5, 7.0, 64.0)) {
      val naive = values.join(intervals, $"v" >= $"lo" && $"v" < $"hi")
        .select("id", "band_id").orderBy("id", "band_id").collect().toSeq
      val binned = Joins.rangeJoin(values, "v", intervals, "lo", "hi", w)
        .select("id", "band_id").orderBy("id", "band_id").collect().toSeq
      assert(binned == naive, s"binWidth=$w")
    }
  }

  test("rangeJoin (binned) matches the naive non-equi join, incl. overlapping intervals") {
    val values = (1 to 500).map(i => (i.toLong, (i % 97) * 1.37)).toDF("id", "v")
    // overlapping bands of width 20, stride 12 — some values match 2 bands
    val bands = (0 to 12).map(b => (b.toLong, b * 12.0, b * 12.0 + 20.0)).toDF("band_id", "lo", "hi")
    val naive = values.join(bands, $"v" >= $"lo" && $"v" < $"hi")
      .select("id", "band_id").orderBy("id", "band_id").collect().toSeq
    val binned = Joins.rangeJoin(values, "v", bands, "lo", "hi", binWidth = 7.0)
      .select("id", "band_id").orderBy("id", "band_id").collect().toSeq
    assert(binned == naive)
    assert(binned.size > values.count()) // overlap produced multi-matches
  }

  test("nearestEventJoin: nearest in either direction, tolerance nulls, pinned ties") {
    val left = Seq((1L, 100.0, 10L), (1L, 205.0, 11L), (2L, 50.0, 12L),
      (3L, 10.0, 13L)).toDF("k", "t", "lid")
    val right = Seq(
      (1L, 90.0, 20L),  // 10 before left@100
      (1L, 104.0, 21L), // 4 after left@100 → nearest
      (1L, 300.0, 22L), // 95 after left@205 vs 101 before → forward wins
      (2L, 45.0, 23L), (2L, 45.0, 25L), // same-time backward tie → greatest rid
      (2L, 55.0, 24L))  // equidistant to the 45s → backward preferred
      .toDF("k", "t2", "rid")
    def run(tol: Double) =
      Joins.nearestEventJoin(left, right, Seq("k"), "t", "t2", tolerance = tol)
        .select("k", "lid", "rid", "asof_dist")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(run(100) == Seq(
      (1L, 10L, Some(21L), Some(4.0)),
      (1L, 11L, Some(22L), Some(95.0)),
      (2L, 12L, Some(25L), Some(5.0)),
      (3L, 13L, None, None)))
    // tighter tolerance nulls the 95-away match, keeps the rest
    assert(run(50) == Seq(
      (1L, 10L, Some(21L), Some(4.0)),
      (1L, 11L, None, None),
      (2L, 12L, Some(25L), Some(5.0)),
      (3L, 13L, None, None)))
    // layout independence
    val relaid = Joins.nearestEventJoin(left.repartition(7), right.repartition(5),
        Seq("k"), "t", "t2", tolerance = 100)
      .select("k", "lid", "rid", "asof_dist")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(relaid == run(100))
  }

  test("nearestEventJoin property: random data matches a naive per-row reference") {
    val rnd = new scala.util.Random(29)
    val left = (1 to 400).map(i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(1000).toDouble, i.toLong))
      .toDF("k", "t", "lid")
    val right = (1 to 300).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(1000).toDouble, 1000L + i))
      .toDF("k", "t2", "rid")
    val rightRows = right.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    for (tol <- Seq(5.0, 50.0, 10000.0)) {
      val got = Joins.nearestEventJoin(left, right, Seq("k"), "t", "t2", tol)
        .select("k", "lid", "rid")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long])))
        .sortBy(x => (x._1, x._2)).toSeq
      // naive reference with the operator's exact tie rules: min
      // (dist, isForward, directional id order)
      val expected = left.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .map { case (k, t, lid) =>
          val cands = rightRows.filter(_._1 == k).map { case (_, rt, rid) =>
            val fwd = rt > t
            (math.abs(rt - t), if (fwd) 1 else 0,
              if (fwd) rid else -rid, rid)
          }
          val best = if (cands.isEmpty) None
            else Some(cands.minBy(c => (c._1, c._2, c._3)))
          (k, lid, best.filter(_._1 <= tol).map(_._4))
        }.sortBy(x => (x._1, x._2)).toSeq
      assert(got == expected, s"tol=$tol")
    }
  }

  test("saltedEquiJoin property: random multisets with duplicates match the plain join") {
    val rnd = new scala.util.Random(31)
    val left = (1 to 500).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(5)))
      .toDF("k", "lv")
    val right = (1 to 200).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(3)))
      .toDF("k", "rv")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getInt(2))
    val plain = left.join(right, Seq("k")).collect().map(key).sorted.toSeq
    for (n <- Seq(1, 3, 16)) {
      val salted = Joins.saltedEquiJoin(left, right, Seq("k"), nSalts = n)
        .collect().map(key).sorted.toSeq
      assert(salted == plain, s"nSalts=$n")
    }
  }

  test("saltedEquiJoin: multiset-identical to the plain join under heavy skew") {
    // hot key 7: 200 probe rows × 3 build rows → 600 pairs, each produced
    // exactly once (every probe row meets the build set under ONE salt)
    val left = ((1 to 200).map(i => (7L, i)) ++ (1 to 50).map(i => (i.toLong + 100, -i)))
      .toDF("k", "lv")
    val right = (Seq((7L, "a"), (7L, "b"), (7L, "c")) ++
      (1 to 50).map(i => (i.toLong + 100, s"r$i"))).toDF("k", "rv")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(1), r.getString(2))
    val plain = left.join(right, Seq("k")).collect().map(key).sorted.toSeq
    val salted = Joins.saltedEquiJoin(left, right, Seq("k"), nSalts = 8)
      .collect().map(key).sorted.toSeq
    assert(salted == plain && salted.count(_._1 == 7L) == 600)
    // layout independence: the deterministic whole-row salt doesn't depend
    // on partitioning
    val relaid = Joins.saltedEquiJoin(left.repartition(13), right.coalesce(1),
      Seq("k"), nSalts = 8).collect().map(key).sorted.toSeq
    assert(relaid == plain)
    // the hot key's probe rows really spread across salts (the point)
    val salts = left.where($"k" === 7L)
      .select(pmod(xxhash64($"k", $"lv"), lit(8)).cast("int"))
      .as[Int].collect().toSet
    assert(salts.size > 1)
  }

  test("hashSample/hashSplit: deterministic, disjoint, near-target fraction") {
    val df = (1L to 5000L).toDF("id")
    val s1 = Filters.hashSample(df, Seq("id"), 0.2).as[Long].collect().toSet
    val s2 = Filters.hashSample(df.repartition(13), Seq("id"), 0.2).as[Long].collect().toSet
    assert(s1 == s2) // partition-layout independent
    assert(math.abs(s1.size - 1000) < 150)
    val (train, eval_) = Filters.hashSplit(df, Seq("id"), 0.8)
    assert(train.count() + eval_.count() == 5000)
    assert(train.join(eval_, "id").isEmpty)
    // sampled set ⊆ the larger-fraction set (nested samples, same salt)
    val s3 = Filters.hashSample(df, Seq("id"), 0.5).as[Long].collect().toSet
    assert(s1.subsetOf(s3))
  }

  test("threeWaySplit: md5 replay, disjoint-exhaustive labels, sane proportions") {
    val df = (1L to 3000L).toDF("id")
    val out = Filters.threeWaySplit(df, Seq("id"), trainPermille = 800,
        valPermille = 100)
      .select("id", "split").as[(Long, String)].collect().toMap
    // sequential md5 reference — the same portable gate any engine replays
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(i: Long) = java.lang.Long.parseLong(
      md.digest(s"$i|42".getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(15), 16) % 1000000000L
    val expected = (1L to 3000L).map { i =>
      i -> (if (u(i) < 800000000L) "train"
            else if (u(i) < 900000000L) "val" else "test")
    }.toMap
    assert(out == expected)
    // every row labeled; proportions near 80/10/10
    assert(out.size == 3000)
    val sizes = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(sizes("train") - 2400) < 120)
    assert(math.abs(sizes("val") - 300) < 90 && math.abs(sizes("test") - 300) < 90)
  }

  test("leakageSafeSplit: cluster members share a bucket, singletons equal threeWaySplit") {
    val df = (1L to 600L).toDF("id")
    // clusters: {1..5} -> 1, {10, 11} -> 10; everyone else singleton
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (10L, 10L), (11L, 10L)).toDF("id", "cluster_id")
    val out = Filters.leakageSafeSplit(df, "id", clusters)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(out.size == 600)
    // all cluster members inherit the representative's bucket
    assert((1L to 5L).map(out).toSet.size == 1)
    assert(out(10L) == out(11L))
    assert(out(1L) == out.getOrElse(1L, "?"))
    // singletons match the plain per-id split exactly
    val plain = Filters.threeWaySplit(df, Seq("id"))
      .select("id", "split").as[(Long, String)].collect().toMap
    val clustered = Set(1L, 2L, 3L, 4L, 5L, 10L, 11L)
    df.as[Long].collect().filterNot(clustered).foreach(i =>
      assert(out(i) == plain(i), s"singleton $i diverged"))
    // cluster reps key by cluster_id == their own id -> same as plain too
    assert(out(1L) == plain(1L) && out(10L) == plain(10L))
  }

  test("stratifiedHashSample applies per-stratum fractions, drops unlisted strata") {
    val df = (1L to 3000L).map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("id", "s")
    val out = Filters.stratifiedHashSample(df, "s",
      Map("a" -> 0.5, "b" -> 0.1), Seq("id"))
    val counts = out.groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("c"))
    assert(math.abs(counts("a") - 500) < 100 && math.abs(counts("b") - 100) < 60)
  }

  test("rolling stddev is sample stddev, null for a single row") {
    val df = Seq((1, 1, 10.0), (1, 2, 14.0)).toDF("id", "t", "x")
    val out = Windows.withRollingStats(df, "id", "t", Seq("x"), Nil, Seq(3))
      .orderBy("t").select("x_rstd_3m").as[Option[Double]].collect()
    assert(out(0).isEmpty)                       // stddev_samp of 1 row = null
    assert(math.abs(out(1).get - 2.8284) < 1e-9) // sqrt(((10-12)^2+(14-12)^2)/1)=2.8284 (rounded 4)
  }

  test("lag features: lag, diff, roc naming and null-on-zero semantics") {
    val df = Seq((1, 1, 0.0), (1, 2, 10.0), (1, 3, 12.0)).toDF("id", "t", "x")
    val out = Windows.withLagFeatures(df, "id", "t", Seq("x"), Seq(1)).orderBy("t")
    val rows = out.select("x_lag_1m", "x_diff_1m", "x_roc_1m").collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getDouble(1) == 10.0 && rows(1).isNullAt(2)) // lag=0 → roc null
    assert(rows(2).getDouble(2) == 0.2) // (12-10)/10
  }

  test("RSI: all-gain series saturates toward 100, flat series is 0") {
    val up = (1 to 8).map(i => (1, i, i * 10.0)).toDF("id", "t", "x")
    val w = Windows.entityWindow("id", "t")
    val rsiUp = up.select(Windows.rsiCol(w, $"x", 6)).as[Double].collect()
    assert(rsiUp.last > 90.0)
    val flat = (1 to 8).map(i => (1, i, 5.0)).toDF("id", "t", "x")
    val rsiFlat = flat.select(Windows.rsiCol(w, $"x", 6)).as[Double].collect()
    assert(rsiFlat.forall(_ == 0.0)) // no gains, no losses → rs=0 → rsi=0
  }

  // ---- PIT join: scale rewrite ≡ reference theta-join shape ----

  test("pointInTimeJoin union-tag rewrite matches the naive theta form") {
    val left = Seq(
      (1, "2024-03-15"), (1, "2024-01-05"), (2, "2024-02-01"), (3, "2024-05-01"))
      .toDF("k", "lt").withColumn("lt", $"lt".cast("date"))
      .withColumn("lval", $"k" * 100)
    val right = Seq(
      (1, "2024-01-01", 11.0), (1, "2024-03-01", 13.0), (1, "2024-06-01", 16.0),
      (2, "2024-02-01", 22.0)) // exact-date match: inclusive
      .toDF("k", "rt", "feat").withColumn("rt", $"rt".cast("date"))
    val fast = Joins.pointInTimeJoin(left, right, Seq("k"), "lt", "rt")
      .orderBy("k", "lt").select("k", "lt", "rt", "feat").collect()
    val naive = Joins.pointInTimeJoinNaive(left, right, Seq("k"), "lt", "rt")
      .orderBy("k", "lt").select("k", "lt", "rt", "feat").collect()
    assert(fast.toSeq == naive.toSeq)
    // spot semantics: inclusive asof, no-match → nulls
    val m = fast.map(r => (r.getInt(0), r.getDate(1).toString) -> Option(r.get(3))).toMap
    assert(m((1, "2024-03-15")) == Some(13.0)) // latest ≤
    assert(m((2, "2024-02-01")) == Some(22.0)) // inclusive
    assert(m((3, "2024-05-01")).isEmpty)       // key with no history
  }

  test("skew-safe PIT join ≡ union-tag form on a one-hot-entity frame, and the hot key spans multiple slices") {
    // ONE entity owns ~all of the history — the case where the union-tag
    // window single-tasks (a window partition cannot be split). The
    // time-sliced form must (a) return identical rows, (b) actually split
    // the hot key across range slices.
    val n = 20000
    val right = (1 to n).map(i => (1L, i, i * 10.0))
      .toDF("k", "rt", "feat")
    val left = ((1 to 500).map(i => (1L, i * 37 % n + 1)) :+ ((2L, 5)))
      .toDF("k", "lt").withColumn("lval", $"k" * 100)
    val fast = Joins.pointInTimeJoin(left, right, Seq("k"), "lt", "rt")
      .select("k", "lt", "lval", "rt", "feat")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val sliced = Joins.pointInTimeJoinSkewSafe(left, right, Seq("k"), "lt", "rt",
        partitions = 8)
      .select("k", "lt", "lval", "rt", "feat")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(sliced == fast)
    // key 2 has no history → null match must survive the slice carry
    assert(sliced.exists(r => r.head == 2L && r(3) == null))
    // the hot key's rows really landed in >1 range slice (the whole point)
    val slices = right.select(lit(1L).as("k"), $"rt".as("__t"))
      .repartitionByRange(8, $"k", $"__t")
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .distinct().count()
    assert(slices > 1, "range partitioner failed to split the hot key")
  }

  test("skew-safe PIT join property: random keys/times/dups match the union-tag form") {
    // duplicate left rows and equal-(k, rt) right rows included — the
    // union-tag form preserves left multiplicity and resolves right ties
    // to the greatest payload; the sliced form must agree row-for-row.
    // (pointInTimeJoinNaive is NOT the reference here: its row_number
    // window collapses duplicate left rows by construction.)
    val rnd = new scala.util.Random(7)
    val left = Seq.fill(300)((rnd.nextInt(5).toLong, rnd.nextInt(50)))
      .toDF("k", "lt").withColumn("lval", $"k" + 1)
    val right = Seq.fill(200)((rnd.nextInt(5).toLong, rnd.nextInt(50), rnd.nextInt(9).toDouble))
      .toDF("k", "rt", "feat")
    val unionTag = Joins.pointInTimeJoin(left, right, Seq("k"), "lt", "rt")
      .select("k", "lt", "lval", "rt", "feat")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val sliced = Joins.pointInTimeJoinSkewSafe(left, right, Seq("k"), "lt", "rt",
        partitions = 6)
      .select("k", "lt", "lval", "rt", "feat")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(sliced == unionTag)
  }

  test("PIT join differential at generated-data scale (500 customers × 24 months)") {
    // left: per-customer transaction months; right: payment snapshots —
    // union-tag rewrite must equal the naive theta form on real-shaped data
    val gen = graft.datagen.BankingDataGen
    // parquet round-trip: sharing generator plan subtrees across both join
    // forms inside exceptAll trips a Spark attribute-rebind internal error
    def mat(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("graft_pit").toString
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val left = mat(gen.transacciones(spark, 500, 24)
      .select($"id_cliente".as("k"), to_date($"periodo", "yyyy-MM").as("lt"),
        $"numero_transacciones".as("lval")))
    val right = mat(gen.pagos(spark, 500, 12) // sparser history on the right
      .select($"id_cliente".as("k"), to_date($"periodo", "yyyy-MM").as("rt"),
        $"saldo_total_credito".as("feat"))
      .dropDuplicates("k", "rt"))
    val fast = Joins.pointInTimeJoin(left, right, Seq("k"), "lt", "rt")
      .select("k", "lt", "rt", "feat")
    val naive = Joins.pointInTimeJoinNaive(left, right, Seq("k"), "lt", "rt")
      .select("k", "lt", "rt", "feat")
    assert(fast.count() == left.count()) // left-join semantics: no row loss
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("PIT join equal-timestamp ties: deterministic greatest-payload winner, both forms agree") {
    // three right snapshots at the SAME (k, t) — the winner must be pinned
    // by the payload tuple (rt, feat, tag) lexicographic max, never by
    // partition order (round-3/4 verdict item: tie nondeterminism)
    val left = Seq((1, "2024-03-01"), (1, "2024-03-02"))
      .toDF("k", "lt").withColumn("lt", $"lt".cast("date"))
    val dupRight = Seq(
      (1, "2024-03-01", 10.0, "a"),
      (1, "2024-03-01", 13.0, "b"),
      (1, "2024-03-01", 13.0, "z"), // equal feat -> next field decides
      (1, "2024-02-01", 99.0, "q")) // earlier snapshot: must not win
      .toDF("k", "rt", "feat", "tag").withColumn("rt", $"rt".cast("date"))
    for (right <- Seq(dupRight, dupRight.repartition(7), dupRight.orderBy($"feat"))) {
      val fast = Joins.pointInTimeJoin(left, right, Seq("k"), "lt", "rt")
        .orderBy("lt").select("feat", "tag").collect()
        .map(r => (r.getDouble(0), r.getString(1))).toSeq
      val naive = Joins.pointInTimeJoinNaive(left, right, Seq("k"), "lt", "rt")
        .orderBy("lt").select("feat", "tag").collect()
        .map(r => (r.getDouble(0), r.getString(1))).toSeq
      assert(fast == Seq((13.0, "z"), (13.0, "z")), s"fast winner: $fast")
      assert(naive == fast, s"forms disagree: naive=$naive fast=$fast")
    }
  }

  test("antiExclude removes rows whose keys appear in the exclusion set") {
    val df = Seq(1, 2, 3, 4).toDF("k")
    val excl = Seq(2, 4, 4).toDF("k")
    assert(Joins.antiExclude(df, excl, Seq("k")).as[Int].collect().sorted.toSeq == Seq(1, 3))
  }

  test("calculateAggregations: reference pivot naming incl. LIT indicator") {
    val df = Seq(
      (1, "a", "credit_card", 100.0), (1, "a", "mortgage", 50.0), (2, "a", "credit_card", 10.0))
      .toDF("id", "p", "product", "amount")
    val out = Aggregations.calculateAggregations(df,
      groupbyColumns = Seq("id", "p"),
      numericOps = Seq("amount" -> Seq("sum", "max")),
      pivotColumn = Some("product"),
      pivotOps = Seq(Aggregations.PivotOp("SUM", "amount", "amount_sum_m"),
        Aggregations.PivotOp("LIT", "1", "product")),
      catsToPivot = Seq("credit_card" -> "cc", "mortgage" -> "mtg"),
      fillnaValue = Some(0)).orderBy("id")
    val cols = out.columns.toSeq
    assert(cols.contains("cc_amount_sum_m") && cols.contains("ind_mtg_product")
      && cols.contains("amount_sum_m") && cols.contains("amount_max_m"))
    val r1 = out.collect()(0)
    assert(r1.getAs[Double]("cc_amount_sum_m") == 100.0)
    assert(r1.getAs[Boolean]("ind_mtg_product"))
    val r2 = out.collect()(1)
    assert(!r2.getAs[Boolean]("ind_mtg_product"))
    assert(r2.getAs[Double]("mtg_amount_sum_m") == 0.0)
  }

  test("maxValueFilter and latestPerGroup") {
    val df = Seq((1, 1, "a"), (1, 3, "b"), (2, 2, "c"), (2, 3, "d")).toDF("g", "t", "v")
    assert(Filters.maxValueFilter(df, "t").select("v").as[String].collect().sorted.toSeq == Seq("b", "d"))
    assert(Filters.latestPerGroup(df, Seq("g"), "t").select("v").as[String].collect().sorted.toSeq == Seq("b", "d"))
  }

  test("W10 generic window op registry and W11 parameterized sliding frames") {
    val df = Seq((1, 1, 2.0), (1, 2, 4.0), (1, 3, 6.0)).toDF("id", "t", "x")
    val w10 = Windows.windowOp(df, "sum", "x", Seq("id"), Seq("t"), "run_sum")
      .orderBy("t").select("run_sum").as[Double].collect()
    assert(w10.toSeq == Seq(2.0, 6.0, 12.0)) // default running frame
    val w11 = Windows.slidingStats(df, Seq("id"), "t", "x", -1, 1)
      .orderBy("t").select("x_smean").as[Double].collect()
    assert(w11.toSeq == Seq(3.0, 4.0, 5.0)) // centered ±1 frame
  }

  test("upperRatio and qualityScore respond to case and length") {
    val r = Seq(("GOOD TEXT here", "x")).toDF("a", "b")
      .select(graft.text.TextStats.upperRatio($"a").as("u"),
        graft.text.TextStats.qualityScore($"a").as("qa"),
        graft.text.TextStats.qualityScore($"b").as("qb"))
      .first()
    assert(r.getAs[Double]("u") > 0.5)
    assert(r.getAs[Double]("qa") > r.getAs[Double]("qb")) // longer + stopwords
  }

  test("validIds drops null and sentinel ids") {
    val df = Seq(Some(1L), Some(999999999L), None).toDF("id")
    assert(Filters.validIds(df, "id").count() == 1)
  }

  test("forwardFill carries the last observation, leaves leading nulls, respects entities") {
    val df = Seq(
      (1L, 1, Some(10.0)), (1L, 2, None), (1L, 3, None), (1L, 4, Some(40.0)), (1L, 5, None),
      (2L, 1, None), (2L, 2, Some(7.0))
    ).toDF("ent", "t", "v")
    val out = graft.ops.Windows.forwardFill(df, "ent", Seq("t"), Seq("v"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> Option(r.get(2))).toMap
    assert(out((1L, 2)) == Some(10.0) && out((1L, 3)) == Some(10.0))
    assert(out((1L, 4)) == Some(40.0) && out((1L, 5)) == Some(40.0))
    assert(out((2L, 1)) == None)      // leading null: nothing to carry
    assert(out((2L, 2)) == Some(7.0)) // entity 1's values never leak into entity 2
  }

  test("groupSampleExact: exact per-group counts, layout-independent, small groups whole") {
    val df = ((1L to 300L).map(i => ("big", i)) ++ Seq(("tiny", 901L), ("tiny", 902L)))
      .toDF("g", "id")
    val a = Filters.groupSampleExact(df, Seq("g"), n = 10, keyCols = Seq("id"))
    val counts = a.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big" -> 10L, "tiny" -> 2L)) // undersized groups kept whole
    val b = Filters.groupSampleExact(df.repartition(17), Seq("g"), n = 10, keyCols = Seq("id"))
    assert(a.select("g", "id").collect().toSet == b.select("g", "id").collect().toSet)
    // a different salt draws a different (but equally sized) sample
    val c = Filters.groupSampleExact(df, Seq("g"), n = 10, keyCols = Seq("id"), salt = 7)
    assert(c.where($"g" === "big").select("id").as[Long].collect().toSet !=
      a.where($"g" === "big").select("id").as[Long].collect().toSet)
  }

  test("rollupAgg: detail, subtotal and grand-total rows from one call") {
    val df = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 4L))
      .toDF("g1", "g2", "v")
    val out = Aggregations.rollupAgg(df, Seq("g1", "g2"), Seq(sum($"v").as("s")))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    assert(out((Some("a"), Some("x"))) == ((1L, 0)))  // detail
    assert(out((Some("a"), None)) == ((3L, 1)))       // per-g1 subtotal
    assert(out((Some("b"), None)) == ((4L, 1)))
    assert(out((None, None)) == ((7L, 3)))            // grand total
    assert(out.size == 6)
  }

  test("groupingSetsAgg: exactly the requested margins, no grand total, subset guard") {
    val df = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 4L))
      .toDF("g1", "g2", "v")
    val out = Aggregations.groupingSetsAgg(df, Seq("g1", "g2"),
        Seq(Seq("g1"), Seq("g1", "g2")), Seq(sum($"v").as("s")))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    assert(out((Some("a"), Some("x"))) == ((1L, 0)))  // detail set
    assert(out((Some("a"), None)) == ((3L, 1)))       // per-g1 margin
    assert(out((Some("b"), None)) == ((4L, 1)))
    assert(!out.contains((None, None)))               // no grand total requested
    assert(out.size == 5)                             // 3 detail + 2 margins
    intercept[IllegalArgumentException] {
      Aggregations.groupingSetsAgg(df, Seq("g1"), Seq(Seq("nope")),
        Seq(sum($"v").as("s")))
    }
  }

  test("weightedHashSample: weight bounds, determinism, monotone keep rate") {
    val df = (1L to 4000L).map(i => (i, if (i <= 2000) 0.1 else 0.9)).toDF("id", "w")
    val kept = Filters.weightedHashSample(df, Seq("id"), "w")
      .select("id").as[Long].collect().toSet
    val keptAgain = Filters.weightedHashSample(df.repartition(13), Seq("id"), "w")
      .select("id").as[Long].collect().toSet
    assert(kept == keptAgain) // layout-independent
    val loRate = kept.count(_ <= 2000) / 2000.0
    val hiRate = kept.count(_ > 2000) / 2000.0
    assert(math.abs(loRate - 0.1) < 0.03 && math.abs(hiRate - 0.9) < 0.03)
    // weight 0 keeps nothing, weight 1 keeps everything
    val edge = Filters.weightedHashSample(
      Seq((1L, 0.0), (2L, 1.0)).toDF("id", "w"), Seq("id"), "w")
      .select("id").as[Long].collect().toSet
    assert(edge == Set(2L))
  }

  test("rollingZFlags: spike against own trailing stats flags; short/flat windows don't") {
    val df = Seq(
      (1L, 1, 10.0), (1L, 2, 12.0), (1L, 3, 11.0), (1L, 4, 100.0), // spike at t=4
      (2L, 1, 5.0), (2L, 2, 5.0), (2L, 3, 5.0))                    // zero variance
      .toDF("ent", "t", "x")
    val out = Windows.rollingZFlags(df, "ent", "t", "x", n = 3, k = 1.5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((Option(r.get(r.fieldIndex("x_rz_3m"))), r.getBoolean(r.fieldIndex("x_anomaly"))))).toMap
    assert(out((1L, 1))._1.isEmpty && !out((1L, 1))._2) // empty baseline: no z
    assert(out((1L, 2))._1.isEmpty)                     // 1-row baseline: sd undefined
    assert(out((1L, 4))._2)                             // the spike flags
    assert(!out((1L, 3))._2)                            // in-band value doesn't
    assert(Seq(1, 2, 3).forall(t => !out((2L, t))._2))  // flat series never flags
    // hand value: t=4 baseline {10,12,11}: mean=11, sd=1 -> z=(100-11)/1
    assert(out((1L, 4))._1.get.asInstanceOf[Double] == 89.0)
  }

  test("decayedSum: hand-computed closed-form decay, partial sums at the head") {
    val df = Seq((1L, 1, 8.0), (1L, 2, 4.0), (1L, 3, 2.0), (2L, 1, 10.0))
      .toDF("ent", "t", "x")
    val out = Windows.decayedSum(df, "ent", "t", "x", alpha = 0.5, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        r.getDouble(r.fieldIndex("x_decay_3"))).toMap
    assert(out((1L, 1)) == 8.0)               // head: only its own term
    assert(out((1L, 2)) == 4.0 + 0.5 * 8.0)   // 8.0
    assert(out((1L, 3)) == 2.0 + 0.5 * 4.0 + 0.25 * 8.0) // 6.0
    assert(out((2L, 1)) == 10.0)              // entities isolated
    intercept[IllegalArgumentException] {
      Windows.decayedSum(df, "ent", "t", "x", alpha = 1.5, k = 3)
    }
  }

  test("funnel: strictly-ordered step times, missing steps null, summary monotone") {
    import graft.ops.EventAnalytics
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, "view", 1), (1L, "click", 2), (1L, "purchase", 3),   // full funnel
      (2L, "click", 1), (2L, "view", 2), (2L, "purchase", 3),   // click BEFORE view
      (3L, "view", 5),                                           // stops at step 1
      (4L, "purchase", 1))                                       // never views
      .map { case (u, t, m) => (u, t, ts(m)) }.toDF("user_id", "et", "t")
    val times = EventAnalytics.funnelTimes(ev, "user_id", "t", "et",
      Seq("view", "click", "purchase"))
    val out = times.collect().map(r => r.getLong(0) ->
      ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(out(1L)._1.nonEmpty && out(1L)._2.nonEmpty && out(1L)._3.nonEmpty)
    // user 2's only click precedes the first view -> step 2 unmet, step 3 too
    assert(out(2L)._1.nonEmpty && out(2L)._2.isEmpty && out(2L)._3.isEmpty)
    assert(out(3L)._1.nonEmpty && out(3L)._2.isEmpty)
    assert(out(4L)._1.isEmpty && out(4L)._2.isEmpty && out(4L)._3.isEmpty)
    val summary = EventAnalytics.funnelSummary(times, Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(summary == Map(1 -> 3L, 2 -> 1L, 3 -> 1L)) // non-increasing reach
    // conversion window: user 1's click is 60s after the view — a 30s
    // deadline voids it (and everything downstream), a 90s one keeps it
    val tight = EventAnalytics.funnelTimes(ev, "user_id", "t", "et",
        Seq("view", "click", "purchase"), maxGapSeconds = Some(30))
      .where($"user_id" === 1L).head()
    assert(tight.get(1) != null && tight.get(2) == null && tight.get(3) == null)
    val loose = EventAnalytics.funnelTimes(ev, "user_id", "t", "et",
        Seq("view", "click", "purchase"), maxGapSeconds = Some(90))
      .where($"user_id" === 1L).head()
    assert(loose.get(2) != null && loose.get(3) != null)
  }

  test("cohortRetention: offsets from first-activity period, exact rates") {
    import graft.ops.EventAnalytics
    def d(s: String) = java.sql.Date.valueOf(s)
    val ev = Seq(
      (1L, "2024-01-05"), (1L, "2024-02-10"), (1L, "2024-02-11"), // cohort Jan, active Feb
      (2L, "2024-01-20"),                                         // cohort Jan only
      (3L, "2024-02-01"), (3L, "2024-04-01"))                     // cohort Feb, back in Apr
      .map { case (u, s) => (u, d(s)) }.toDF("ent", "dt")
    val out = EventAnalytics.cohortRetention(ev, "ent", "dt", "month")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("2024-01-01", 0)) == ((2L, 2L, 1.0))) // both Jan entities at offset 0
    assert(out(("2024-01-01", 1)) == ((1L, 2L, 0.5))) // only entity 1 returned in Feb
    assert(out(("2024-02-01", 2)) == ((1L, 1L, 1.0))) // entity 3 back after 2 months
    assert(!out.contains(("2024-01-01", 2)))          // nobody from Jan active in Mar
  }

  test("timeSplit: half-open chronological boundaries") {
    val df = Seq("2024-01-10", "2024-01-19", "2024-01-20", "2024-01-25",
      "2024-01-26", "2024-01-30").toDF("d").withColumn("d", $"d".cast("timestamp"))
    val out = Filters.timeSplit(df, "d", "2024-01-20", "2024-01-26")
      .collect().map(r => r.getTimestamp(0).toString.take(10) -> r.getString(1)).toMap
    assert(out("2024-01-10") == "train" && out("2024-01-19") == "train")
    assert(out("2024-01-20") == "val" && out("2024-01-25") == "val")   // valStart inclusive
    assert(out("2024-01-26") == "test" && out("2024-01-30") == "test") // testStart inclusive
    intercept[IllegalArgumentException] {
      Filters.timeSplit(df, "d", "2024-02-01", "2024-01-01")
    }
  }

  test("mergeIntervals: contained intervals, touching merge, gap split, layout-independent") {
    // key a: [0,10), [2,4) contained, [8,12), [12,15) touching, gap, [20,22).
    // The contained [2,4) is the lag-vs-running-max trap: at [8,12) a
    // lag(hi) sees 4 and would wrongly start a new island (8 > 4); the
    // running max sees 10 → merged. Expected: [0,15) of 4, then [20,22).
    val d = Seq(
      ("a", 0, 10), ("a", 2, 4), ("a", 8, 12), ("a", 12, 15), ("a", 20, 22),
      ("b", 5, 6)).toDF("k", "lo", "hi")
    def run(df: org.apache.spark.sql.DataFrame) =
      Windows.mergeIntervals(df, "k", "lo", "hi")
        .orderBy("k", "island_start")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    val expect = Seq(("a", 0, 15, 4L), ("a", 20, 22, 1L), ("b", 5, 6, 1L))
    assert(run(d) == expect)
    assert(run(d.repartition(7)) == expect) // layout independence
  }

  test("intervalOverlapJoin ≡ brute-force overlap, exactly once per pair (random intervals)") {
    val rnd = new scala.util.Random(11)
    val ls = (1 to 60).map { i =>
      val lo = rnd.nextInt(200); (i.toLong, lo.toDouble, (lo + 1 + rnd.nextInt(40)).toDouble)
    }
    val rs = (1 to 50).map { j =>
      val lo = rnd.nextInt(200); (j.toLong, lo.toDouble, (lo + 1 + rnd.nextInt(40)).toDouble)
    }
    val left = ls.toDF("lid", "l_lo", "l_hi")
    val right = rs.toDF("rid", "r_lo", "r_hi")
    val expect = (for {
      (i, llo, lhi) <- ls; (j, rlo, rhi) <- rs
      if llo < rhi && rlo < lhi
    } yield (i, j)).toSet
    for (w <- Seq(3.0, 10.0, 50.0)) { // pairs span many / few / one bin(s)
      val rows = Joins.intervalOverlapJoin(left, "l_lo", "l_hi",
          right, "r_lo", "r_hi", binWidth = w)
        .select("lid", "rid").as[(Long, Long)].collect().toSeq
      assert(rows.size == rows.toSet.size, s"binWidth $w: duplicated pairs")
      assert(rows.toSet == expect, s"binWidth $w: got ${rows.size}, expected ${expect.size}")
    }
    // touching-but-not-overlapping half-open intervals do not pair
    val touch = Joins.intervalOverlapJoin(
      Seq((1L, 0.0, 10.0)).toDF("lid", "l_lo", "l_hi"), "l_lo", "l_hi",
      Seq((2L, 10.0, 20.0)).toDF("rid", "r_lo", "r_hi"), "r_lo", "r_hi", 5.0)
    assert(touch.count() == 0)
    // inverted (empty) spans match nothing — the pairwise predicate alone
    // would admit (5,3) vs (0,10)
    val inverted = Joins.intervalOverlapJoin(
      Seq((1L, 5.0, 3.0)).toDF("lid", "l_lo", "l_hi"), "l_lo", "l_hi",
      Seq((2L, 0.0, 10.0)).toDF("rid", "r_lo", "r_hi"), "r_lo", "r_hi", 5.0)
    assert(inverted.count() == 0)
  }
  test("joinHealth: hand nulls, orphans, dup keys, fanout") {
    val fact = Seq(Some(1L), Some(1L), Some(1L), Some(2L), Some(3L), None)
      .toDF("fk")
    val dim = Seq(1L, 2L, 2L, 4L).toDF("dk")
    val got = Joins.joinHealth(fact, dim, "fk", "dk")
      .as[(Long, Long, Long, Long, Long, Long, Option[Long])]
      .collect().head
    // 6 fact rows (1 null key), 4 dim rows, dim key 2 duplicated, fact
    // key 3 orphaned, matched fanout 3+1 rows over 2 keys -> avg 2e6
    assert(got == ((6L, 4L, 1L, 1L, 1L, 3L, Some(2000000L))))
    // clean 1:1 join: all zeros, fanout exactly 1
    val f2 = Seq(1L, 2L).toDF("fk"); val d2 = Seq(1L, 2L).toDF("dk")
    assert(Joins.joinHealth(f2, d2, "fk", "dk")
      .as[(Long, Long, Long, Long, Long, Long, Option[Long])]
      .collect().head == ((2L, 2L, 0L, 0L, 0L, 1L, Some(1000000L))))
  }
}
