package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sim.{Cluster, IvfIndex}
import graft.store.TableStore

class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 4 well-separated axis clusters, 10 vectors each: id i belongs to
  // group i % 4, with a small id-dependent wobble on a second dim.
  private def vecs = (1L to 40L).map { i =>
    val g = (i % 4).toInt
    val v = Array.fill(4)(0.0)
    v(g) = 1.0
    v((g + 1) % 4) = 0.01 * (i % 7)
    (i, v.toSeq)
  }

  private def centroids: Seq[Seq[Long]] =
    (0 until 4).map { g =>
      val v = Array.fill(4)(0.0)
      v(g) = 1.0
      v.toSeq.map(x => math.round(x * 1000000.0))
    }

  private def freshStore() = new TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_ivfspec").toString)

  test("incremental assignment == one-shot assignment; upsert replay is idempotent") {
    val df = vecs.toDF("vec_id", "embedding")
    val store = freshStore()
    IvfIndex.assignIncremental(store, "p",
      df.where(col("vec_id") <= 20), "vec_id", "embedding", centroids)
    IvfIndex.assignIncremental(store, "p",
      df.where(col("vec_id") > 20), "vec_id", "embedding", centroids)
    val incremental = IvfIndex.postings(store, "p")
      .as[(Long, Int)].collect().toSet
    val oneShot = Cluster.assignQuantized(df, "embedding", centroids)
      .select(col("vec_id"), col("cluster")).as[(Long, Int)].collect().toSet
    assert(incremental == oneShot)
    assert(incremental.forall { case (id, c) => c == (id % 4).toInt })
    // replaying a batch changes nothing (PK upsert)
    IvfIndex.assignIncremental(store, "p",
      df.where(col("vec_id") > 20), "vec_id", "embedding", centroids)
    assert(IvfIndex.postings(store, "p").count() == 40)
  }

  test("appendOnly ingest == upsert ingest; blind replays are safe " +
      "(duplicate-tolerant probes) and compactPostings reconciles") {
    val df = vecs.toDF("vec_id", "embedding")
    val up = freshStore()
    IvfIndex.assignIncremental(up, "p", df, "vec_id", "embedding", centroids)
    val ap = freshStore()
    IvfIndex.assignIncremental(ap, "p",
      df.where(col("vec_id") <= 20), "vec_id", "embedding", centroids)
    IvfIndex.assignIncremental(ap, "p",
      df.where(col("vec_id") > 20), "vec_id", "embedding", centroids,
      appendOnly = true)
    // an at-least-once replay of the second batch on the base store (no
    // txn view): assignment is deterministic, so the replay
    // appends EXACT duplicates and every consumer collapses them by id
    IvfIndex.assignIncremental(ap, "p",
      df.where(col("vec_id") > 20), "vec_id", "embedding", centroids,
      appendOnly = true)
    assert(ap.read("p").count() == 60) // raw rows: 40 + 20 replayed
    def results(s: TableStore) = {
      val q = df.where(col("vec_id") === 5)
        .select(lit(1005L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
      (IvfIndex.postings(s, "p").as[(Long, Int)].collect().toSet,
        IvfIndex.searchStored(s, "p", q, "vec_id", "embedding", centroids,
          k = 3, nProbe = 2).as[(Long, Long, Double, Int)].collect().toSeq,
        IvfIndex.driftStats(s, "p", centroids)
          .as[(Int, Long, Long)].collect().toSet)
    }
    assert(results(ap) == results(up))
    // physical reconciliation: one layout-preserving rewrite collapses the
    // replay duplicates; logical results unchanged
    IvfIndex.compactPostings(ap, "p")
    assert(ap.read("p").count() == 40)
    assert(results(ap) == results(up))
  }

  test("searchStored: planted clone ranks 1; scan reads only probed partitions") {
    val df = vecs.toDF("vec_id", "embedding")
    val store = freshStore()
    IvfIndex.assignIncremental(store, "p", df, "vec_id", "embedding", centroids)
    val query = df.where(col("vec_id") === 5)
      .select(lit(1005L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
    val hits = IvfIndex.searchStored(store, "p", query,
      "vec_id", "embedding", centroids, k = 3, nProbe = 2)
    // finalize THIS dataset before inspecting the plan (AQE; invariant 8)
    val rows = hits.collect()
    assert(rows.filter(_.getAs[Int]("rank") == 1)
      .map(_.getAs[Long]("neighbor_id")).toSeq == Seq(5L))
    // partition pruning: at most nProbe cluster dirs scanned
    val scan = fileScans(hits).find(_.output.exists(_.name == "v"))
      .getOrElse(fail("no posting file scan"))
    assert(scan.selectedPartitions.partitionCount <= 2,
      scan.metadata("PartitionFilters"))
  }

  /** AQE-aware FileSourceScanExec collector (descends AdaptiveSparkPlanExec
    * and QueryStageExec, which hide their inner plan from children). */
  private def fileScans(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case o => o.children
      }
      self ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("streaming ingest via foreachBatch builds the same index as batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfstream").toString
    vecs.toDF("vec_id", "embedding").repartition(3).write
      .mode("overwrite").parquet(dir)
    val store = freshStore()
    val cp = java.nio.file.Files.createTempDirectory("graft_ivfcp").toString
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1) // several micro-batches -> several upserts
      .parquet(dir)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sim.IvfIndex.assignIncremental(store, "p", batch,
          "vec_id", "embedding", centroids)
        ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = graft.sim.IvfIndex.postings(store, "p")
      .as[(Long, Int)].collect().toSet
    val oneShot = Cluster.assignQuantized(
        vecs.toDF("vec_id", "embedding"), "embedding", centroids)
      .select(col("vec_id"), col("cluster")).as[(Long, Int)].collect().toSet
    assert(streamed == oneShot)
  }

  test("driftStats alarms on ingested drift; refit restores the fresh-fit " +
      "recall row (and equals a from-scratch fit)") {
    // world at fit time: 4 axis blobs (+ 5 "anchor" rows at the five true
    // centers, ids 1-5, so the refit k-means' smallest-id init is exactly
    // one seed per cluster and Lloyd converges deterministically)
    val anchors = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)), (4L, Seq(0.0, 0.0, 0.0, 1.0)),
      (5L, Seq(0.7, 0.7, 0.0, 0.0))) // the blob center NOT in the old fit
    val base = (10L to 49L).map { i =>
      val g = (i % 4).toInt
      val v = Array.fill(4)(0.0); v(g) = 1.0; v((g + 1) % 4) = 0.01 * (i % 7)
      (i, v.toSeq)
    }
    // drifted blob between old centroids 0 and 1: the ±0.02 wobble splits
    // members across the two buckets — exactly the drift mode that loses
    // IVF recall (neighbors of one query land in different buckets)
    val blob = (100L to 109L).map { i =>
      val e = if (i % 2 == 0) 0.02 else -0.02
      (i, Seq(0.7 + e, 0.7 - e, 0.0, 0.0))
    }
    val store = freshStore()
    val baseDf = (anchors.filter(_._1 <= 4) ++ base).toDF("vec_id", "embedding")
    IvfIndex.assignIncremental(store, "p", baseDf, "vec_id", "embedding", centroids)
    val before = IvfIndex.driftStats(store, "p", centroids)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    // drift arrives (plus the blob-center anchor, id 5)
    IvfIndex.assignIncremental(store, "p",
      (anchors.filter(_._1 == 5) ++ blob).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids)
    val after = IvfIndex.driftStats(store, "p", centroids)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    // the buckets that swallowed the blob show the alarm: mean sqdist UP
    assert(after(0) > before(0) && after(1) > before(1))
    // recall under the FROZEN quantizer: a query at the blob center probes
    // one bucket and finds only that half of its true neighbors
    val query = Seq((9000L, Seq(0.71, 0.70, 0.0, 0.0))).toDF("vec_id", "embedding")
    def blobHits(cents: Seq[Seq[Long]]) =
      IvfIndex.searchStored(store, "p", query, "vec_id", "embedding",
          cents, k = 10, nProbe = 1)
        .where(col("neighbor_id") >= 100 || col("neighbor_id") === 5)
        .count()
    val frozen = blobHits(centroids)
    assert(frozen <= 6, s"frozen-quantizer recall unexpectedly high: $frozen")
    // refit: k-means over the stored corpus, changed rows re-bucketed
    val next = IvfIndex.refit(store, "p", k = 5)
    val refit = blobHits(next)
    assert(refit >= 9, s"refit did not restore recall: $refit")
    // and the refit index IS the fresh-fit index: a from-scratch fit over
    // the same corpus yields identical centroids and identical postings
    val all = (anchors ++ base ++ blob).toDF("vec_id", "embedding")
    val freshModel = Cluster.kmeans(all, "vec_id", "embedding", k = 5)
    val freshCents = freshModel.centroids
      .map(_.map(x => math.round(x * 1e6)).toVector).toVector
    assert(next == freshCents)
    val freshStore2 = freshStore()
    IvfIndex.assignIncremental(freshStore2, "p", all, "vec_id", "embedding",
      freshCents)
    assert(IvfIndex.postings(store, "p").as[(Long, Int)].collect().toSet ==
      IvfIndex.postings(freshStore2, "p").as[(Long, Int)].collect().toSet)
  }

  test("assignIncremental output is partition-layout independent") {
    val df = vecs.toDF("vec_id", "embedding")
    val a = IvfIndex.assignIncremental(freshStore(), "p",
      df, "vec_id", "embedding", centroids).as[(Long, Int)].collect().toSet
    val b = IvfIndex.assignIncremental(freshStore(), "p",
      df.repartition(7), "vec_id", "embedding", centroids)
      .as[(Long, Int)].collect().toSet
    assert(a == b)
  }
}
