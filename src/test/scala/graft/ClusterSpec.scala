package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sim.Cluster

class ClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Double])*) =
    rows.toSeq.toDF("id", "v")

  test("assignQuantized: exact argmin, ties go to the lowest centroid index") {
    val df = vecs(
      1L -> Seq(0.0, 0.0),   // dist 0 to c0
      2L -> Seq(1.0, 1.0),   // dist 0 to c1
      3L -> Seq(0.5, 0.5),   // equidistant c0/c1 -> tie -> c0
      4L -> Seq(0.9, 1.2))   // nearest c1
    val cents = Seq(Seq(0L, 0L), Seq(1000000L, 1000000L))
    val out = Cluster.assignQuantized(df, "v", cents)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1))
  }

  test("assignQuantized is partition-layout independent") {
    val df = (1L to 97L).map(i => (i, Seq(math.sin(i.toDouble), math.cos(i.toDouble))))
      .toDF("id", "v")
    val cents = Seq(Seq(900000L, 0L), Seq(-900000L, 100000L), Seq(0L, -950000L))
    val a = Cluster.assignQuantized(df.repartition(1), "v", cents)
      .select("id", "cluster").as[(Long, Int)].collect().toSet
    val b = Cluster.assignQuantized(df.repartition(13), "v", cents)
      .select("id", "cluster").as[(Long, Int)].collect().toSet
    assert(a == b)
  }

  test("kmeans recovers well-separated planted clusters; cost non-increasing") {
    // three tight blobs around (0,0), (10,10), (-10, 5); ids ordered so
    // init (3 smallest ids) picks one seed per blob
    val pts = Seq(
      1L -> Seq(0.1, -0.1), 2L -> Seq(10.2, 9.9), 3L -> Seq(-10.1, 5.2),
      4L -> Seq(0.2, 0.1), 5L -> Seq(9.8, 10.1), 6L -> Seq(-9.9, 4.8),
      7L -> Seq(-0.2, 0.2), 8L -> Seq(10.1, 10.2), 9L -> Seq(-10.2, 5.1))
    val df = vecs(pts: _*)
    val m = Cluster.kmeans(df, "id", "v", k = 3, maxIters = 5)
    assert(m.iters >= 1 && m.cost < 0.2 * pts.size) // tight blobs: tiny mean sqdist
    // converged assignment groups ids by blob
    val cents = m.centroids.map(_.map(x => math.round(x * 1e6)))
    val out = Cluster.assignQuantized(df, "v", cents)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(out(1L) == out(4L) && out(4L) == out(7L))
    assert(out(2L) == out(5L) && out(5L) == out(8L))
    assert(out(3L) == out(6L) && out(6L) == out(9L))
    assert(Set(out(1L), out(2L), out(3L)).size == 3)
  }

  test("kmeans keeps the previous centroid for an empty cluster") {
    // k=3 but only two distinct locations: the third centroid (init = id 3,
    // same spot as id 1's blob) empties after reassignment and must survive
    val df = vecs(
      1L -> Seq(0.0, 0.0), 2L -> Seq(5.0, 5.0), 3L -> Seq(0.0, 0.0),
      4L -> Seq(5.1, 5.0), 5L -> Seq(0.1, 0.0))
    val m = Cluster.kmeans(df, "id", "v", k = 3, maxIters = 3)
    assert(m.centroids.size == 3)
    assert(m.centroids.forall(_.forall(x => !x.isNaN)))
  }

  test("assignQuantized is map-only: zero exchanges in the executed plan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Cluster.assignQuantized(df, "embedding",
      Seq(Seq.fill(64)(0L), Seq.fill(64)(500000L)))
      .select("vec_id", "cluster")
    out.collect() // finalize THIS dataset before counting (invariant 8)
    assert(graft.ops.Scale.countExchanges(out) == 0,
      out.queryExecution.executedPlan.toString)
  }

  test("semanticDupPairs finds identical clones within a cluster, no cross-cluster pairs") {
    val df = vecs(
      1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0),
      11L -> Seq(1.0, 0.0),            // clone of 1, same cluster
      12L -> Seq(0.0, 1.0),            // clone of 2
      13L -> Seq(0.9, 0.1))            // near 1's cluster but cosine < .995 vs 1
    val cents = Seq(Seq(1000000L, 0L), Seq(0L, 1000000L))
    val pairs = Cluster.semanticDupPairs(df, "id", "v", cents, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 11L), (2L, 12L)))
    val kept = Cluster.semanticDedup(df, "id", "v", cents, threshold = 0.999)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 13L))
  }

  test("embeddingIncremental: corpus near-dup flagged, within-batch smaller " +
      "id wins, survivor visible to next batch, replay exclusion honored") {
    val cents = Seq(Seq(1000000L, 0L, 0L, 0L), Seq(0L, 1000000L, 0L, 0L))
    val corpus = vecs(
      1L -> Seq(1.0, 0.01, 0.0, 0.0),  // cluster 0
      2L -> Seq(0.01, 1.0, 0.0, 0.0))  // cluster 1
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_inc_emb").toString)
    Cluster.seedEmbeddingSignatures(store, "sigs", corpus, "v", "id", cents)
    assert(store.read("sigs").columns.toSet ==
      Set("id", "cluster", "codes", "scale"))
    val batch = vecs(
      10L -> Seq(0.99, 0.02, 0.0, 0.0),  // near-dup of 1, same cluster
      11L -> Seq(0.6, 0.0, 0.8, 0.0),    // novel, cluster 0, cos vs 1 ≈ 0.6
      12L -> Seq(0.61, 0.0, 0.79, 0.0),  // within-batch near-dup of 11
      13L -> Seq(0.0, 0.0, 0.0, 1.0))    // novel, orthogonal to everything
    // the batch runs as trigger 0 of a stream: through its txn view
    val out = Cluster.embeddingIncremental(store.txn("ck", 0), "sigs", batch, "v", "id",
        cents, threshold = 0.95)
      .select("id", "dup_of_corpus", "kept")
      .as[(Long, Boolean, Boolean)].collect().toSet
    assert(out == Set((10L, true, false), (11L, false, true),
      (12L, false, false), (13L, false, true)))
    // survivors registered: a near-clone of 11 in the NEXT batch is a corpus dup
    val out2 = Cluster.embeddingIncremental(store, "sigs",
        vecs(20L -> Seq(0.6, 0.01, 0.8, 0.0)), "v", "id", cents, threshold = 0.95)
      .select("dup_of_corpus").as[Boolean].collect().toSeq
    assert(out2 == Seq(true))
    // replay exclusion: a replay of trigger 0 through a fresh view of its
    // txn reads the signatures as they were before it, so it keeps the
    // no-crash outcome (11/13 survive, not self-matched out) and registers
    // nothing; without the view every previously-kept row self-matches at 1.0
    val version = store.currentVersion("sigs")
    val replay = Cluster.embeddingIncremental(store.txn("ck", 0), "sigs", batch, "v", "id",
        cents, threshold = 0.95)
      .select("id", "dup_of_corpus", "kept")
      .as[(Long, Boolean, Boolean)].collect().toSet
    assert(replay == out)
    assert(store.currentVersion("sigs") == version)
    val noExcl = Cluster.embeddingIncremental(store, "sigs", batch, "v", "id",
        cents, threshold = 0.95)
    assert(noExcl.where(col("kept")).count() == 0) // all self-match at 1.0
  }

  test("embeddingIncremental corpus probe is map-only: exchange count is " +
      "corpus-size-independent") {
    val cents = Seq(Seq(1000000L, 0L), Seq(-1000000L, 0L))
    def probeOn(n: Int) = {
      val c = (1L to n.toLong)
        .map(i => (i, Seq(math.cos(i * 0.1), math.sin(i * 0.1))))
        .toDF("id", "v")
      val st = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_inc_emb_plan").toString)
      Cluster.seedEmbeddingSignatures(st, "sigs", c, "v", "id", cents)
      Cluster.embeddingIncremental(st, "sigs",
        vecs(900L -> Seq(1.0, 0.0)), "v", "id", cents)
    }
    val small = probeOn(4); val big = probeOn(32)
    small.collect(); big.collect()
    assert(graft.ops.Scale.countExchanges(small) ==
      graft.ops.Scale.countExchanges(big))
  }

  test("PQ.encode: hand-computed codes per subspace, tie to lowest index") {
    import graft.sim.{PQ, PQModel}
    // 4-dim vectors, m=2 subspaces of 2 dims; codebooks in micro-units
    val model = PQModel(2, 2, Seq(
      Seq(Seq(0L, 0L), Seq(1000000L, 1000000L)),          // sub0: (0,0) / (1,1)
      Seq(Seq(0L, 1000000L), Seq(1000000L, 0L))))          // sub1: (0,1) / (1,0)
    val df = vecs(
      1L -> Seq(0.1, 0.1, 0.9, 0.1),  // sub0 -> 0, sub1 -> (1,0) = 1
      2L -> Seq(0.9, 0.8, 0.2, 0.9),  // sub0 -> 1, sub1 -> (0,1) = 0
      3L -> Seq(0.5, 0.5, 0.5, 0.5))  // both subspaces equidistant -> code 0
    val out = PQ.encode(df, "v", model)
      .select($"id", $"pq_code"(0), $"pq_code"(1))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(1L) == ((0, 1)))
    assert(out(2L) == ((1, 0)))
    assert(out(3L) == ((0, 0))) // exact tie -> first index, both subspaces
  }

  test("PQ.encode with m=1 is exactly assignQuantized; layout-independent") {
    import graft.sim.{PQ, PQModel}
    val rnd = new scala.util.Random(11)
    val df = vecs((1L to 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextDouble() * 2 - 1)): _*)
    val cents = Seq(Seq.fill(8)(-500000L), Seq.fill(8)(0L), Seq.fill(8)(500000L))
    val viaPq = PQ.encode(df, "v", PQModel(1, 8, Seq(cents)))
      .select($"id", $"pq_code"(0)).as[(Long, Int)].collect().toMap
    val viaAssign = Cluster.assignQuantized(df, "v", cents)
      .select($"id", $"cluster").as[(Long, Int)].collect().toMap
    assert(viaPq == viaAssign)
    val relaid = PQ.encode(df.repartition(13), "v", PQModel(1, 8, Seq(cents)))
      .select($"id", $"pq_code"(0)).as[(Long, Int)].collect().toMap
    assert(relaid == viaPq)
  }

  test("PQ.adcTopK: planted clone ranks first with the exact table distance") {
    import graft.sim.{PQ, PQModel}
    val rnd = new scala.util.Random(5)
    val base = (1L to 100L).map(i => i -> Seq.fill(4)(rnd.nextDouble()))
    val query = base.head._2                  // clone of id 1 (lowest id:
    val df = vecs(base: _*)                   // deterministic tie-break winner)
    val model = PQ.fit(df, "id", "v", dim = 4, m = 2, k = 4)
    val codes = PQ.encode(df, "v", model)
    val top = PQ.adcTopK(codes, "id", model, query, k = 3)
      .select("id", "adc_dist").as[(Long, Long)].collect()
    // the query's own code cell attains the minimal ADC distance (its code
    // IS the per-subspace argmin of the table); lowest id wins the cell tie
    assert(top.head._1 == 1L)
    // ADC distance is the reconstruction identity: sum over subspaces of
    // the exact integer distance from the quantized query subvector to
    // the assigned codeword
    val code1 = codes.where($"id" === 1L)
      .select($"pq_code"(0), $"pq_code"(1)).as[(Int, Int)].head()
    val q = query.map(x => math.round(x * 1000000.0))
    def d(sub: Int, code: Int) = {
      val qs = q.slice(sub * 2, sub * 2 + 2)
      qs.zip(model.codebooks(sub)(code)).map { case (a, b) => (a - b) * (a - b) }.sum
    }
    assert(top.head._2 == d(0, code1._1) + d(1, code1._2))
  }

  test("PQ.ivfAdcTopK: identical clone survives probe + ADC shortlist, exact refine ranks it 1") {
    import graft.sim.{PQ, PQModel}
    val rnd = new scala.util.Random(9)
    val corpus = (1L to 300L).map(i => i -> Seq.fill(8)(rnd.nextDouble() * 2 - 1))
    val df = vecs(corpus: _*)
    // queries = exact clones of ids 5, 50, 200 under shifted query ids
    val queries = vecs(Seq(5L, 50L, 200L).map(i => (i + 1000L) -> corpus((i - 1).toInt)._2): _*)
    val model = PQ.fit(df, "id", "v", dim = 8, m = 2, k = 4)
    val top = PQ.ivfAdcTopK(df, queries, "id", "v", "id", model,
        k = 5, nCentroids = 6, nProbe = 3, shortlist = 40)
      .where($"rank" === 1)
      .select($"query_id", $"neighbor_id", $"cosine_sim")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(top(1005L)._1 == 5L && top(1005L)._2 == 1.0)
    assert(top(1050L)._1 == 50L && top(1050L)._2 == 1.0)
    assert(top(1200L)._1 == 200L && top(1200L)._2 == 1.0)
    intercept[IllegalArgumentException] { // shortlist must cover k
      PQ.ivfAdcTopK(df, queries, "id", "v", "id", model, k = 10, shortlist = 5)
    }
  }

  test("PQ.fit recovers planted per-subspace structure; encode separates blobs") {
    import graft.sim.{PQ, PQModel}
    val rnd = new scala.util.Random(3)
    def jitter(c: Seq[Double]) = c.map(_ + rnd.nextGaussian() * 0.01)
    // subspace 0 has blobs at 0 / 1; subspace 1 has blobs at -1 / +1,
    // assigned independently -> 4 combinations in the full space
    val rows = (1L to 200L).map { i =>
      val b0 = if (i % 2 == 0) Seq(0.0, 0.0) else Seq(1.0, 1.0)
      val b1 = if (i % 4 < 2) Seq(-1.0, -1.0) else Seq(1.0, 1.0)
      i -> (jitter(b0) ++ jitter(b1))
    }
    val df = vecs(rows: _*)
    val model = PQ.fit(df, "id", "v", dim = 4, m = 2, k = 2, maxIters = 15)
    val codes = PQ.encode(df, "v", model)
      .select($"id", $"pq_code"(0), $"pq_code"(1))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // each subspace's code is a pure function of that subspace's blob
    val bySub0 = codes.groupBy(c => c._1 % 2).view.mapValues(_.map(_._2).toSet)
    val bySub1 = codes.groupBy(c => c._1 % 4 < 2).view.mapValues(_.map(_._3).toSet)
    assert(bySub0(0L).size == 1 && bySub0(1L).size == 1 && bySub0(0L) != bySub0(1L))
    assert(bySub1(true).size == 1 && bySub1(false).size == 1 && bySub1(true) != bySub1(false))
  }
}
