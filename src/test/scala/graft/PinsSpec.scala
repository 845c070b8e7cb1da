package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Pins
import graft.store.TableStore
import graft.streaming.Streaming

/** One pin/release discipline (CLAUDE.md invariant 7): `Pins.pin` is the
  * one checkpoint pin, `Pins.scoped` the one release, and the caller that
  * materializes a unit of work owns the scope. */
class PinsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)
  private def rddOf(pinned: DataFrame): Int =
    pinned.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }.get
  private def pinned(): Int = rddOf(Pins.pin(spark.range(10).toDF()))
  /** The RDDs persisted since `floor`, an RDD id taken earlier. */
  private def persistedSince(floor: Int): Int =
    spark.sparkContext.getPersistentRDDs.keys.count(_ >= floor)
  private def nextRddId(): Int = spark.sparkContext.emptyRDD[Int].id

  test("a scoped pin is released when its scope exits, also by an exception") {
    val p = Pins.scoped {
      val df = Pins.pin(spark.range(10).toDF())
      assert(persisted(rddOf(df)) && df.count() == 10)
      rddOf(df)
    }
    assert(!persisted(p))
    var q = -1
    intercept[IllegalStateException] {
      Pins.scoped { q = pinned(); throw new IllegalStateException("body failed") }
    }
    assert(q >= 0 && !persisted(q))
  }

  test("an unscoped pin stays, and a later scope leaves it") {
    val df = Pins.pin(spark.range(10).toDF())
    Pins.scoped(pinned())
    assert(persisted(rddOf(df)) && df.count() == 10)
  }

  test("an inner scope releases only its own pins") {
    Pins.scoped {
      val outer = Pins.pin(spark.range(10).toDF())
      val inner = Pins.scoped(pinned())
      assert(!persisted(inner))
      assert(persisted(rddOf(outer)) && outer.count() == 10)
    }
  }

  test("a pin made on another thread is not captured by this thread's scope") {
    val other = Pins.scoped {
      var id = -1
      val t = new Thread(() => id = pinned())
      t.start()
      t.join()
      id
    }
    assert(other >= 0 && persisted(other))
  }

  test("the staged memo outlives the entry scopes that build and read it") {
    val dir = Files.createTempDirectory("graft_pins_memo").toString
    val rng = new scala.util.Random(7)
    val vocab = IndexedSeq.fill(400)(
      rng.alphanumeric.filter(_.isLetter).take(6).mkString.toLowerCase)
    (1L to 80L).map { id =>
      val text = Seq.fill(30)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      (id, text, "en", "web", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    for (name <- Seq("q_dedup_clusters", "q_dedup_recall_report")) {
      def run(): Seq[String] =
        Pins.scoped(SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq)
      val first = run()
      assert(first.nonEmpty, name)
      assert(run() == first, name)
    }
  }

  test("streaming gates release every trigger's pins when the trigger ends") {
    val root = Files.createTempDirectory("graft_pins_stream").toString
    val store = new TableStore(spark, s"$root/store")
    /** Five triggers of `gate`, one new file each; the RDDs still
      * persisted after each trigger that were not before the first. */
    def heldAfterEachTrigger(name: String, batch: Int => DataFrame)
                            (gate: (DataFrame, String) => Unit): Seq[Int] = {
      val floor = nextRddId()
      (1 to 5).map { k =>
        val b = batch(k)
        b.coalesce(1).write.mode("append").parquet(s"$root/$name")
        gate(spark.readStream.schema(b.schema).parquet(s"$root/$name"), s"$root/${name}_cp")
        persistedSince(floor)
      }
    }
    val refCounts = Seq((1.0, 3L), (2.0, 5L)).toDF("value", "ref_count")
    val ks = heldAfterEachTrigger("ks",
        k => (1 to 20).map(i => ((i * k) % 7).toDouble).toDF("value")) { (src, cp) =>
      assert(Streaming.incrementalKsGate(src, "value", refCounts, store, "ks_counts", cp,
        r => assert(r.collect().length == 1)).awaitTermination(120000))
    }
    assert(ks == Seq.fill(5)(0), s"KS gate: RDDs held after triggers 1-5: $ks")
    assert(store.read("ks_counts").agg(sum("cur_count")).head().getLong(0) == 100L)

    val source = (1 to 40).map("word" + _).mkString(" ")
    val contain = heldAfterEachTrigger("contain", k =>
      if (k == 1)
        Seq((1L, source), (2L, "a separate page about unrelated topics")).toDF("doc_id", "text")
      else Seq((10L + k, (5 to 30).map("word" + _).mkString(" ")),
        (20L + k, (1 to 12).map(i => s"topic${k}_$i").mkString(" "))).toDF("doc_id", "text")) {
      (src, cp) =>
        assert(Streaming.containmentIngestGate(src, "text", "doc_id", store,
          "cpost", "cdf", "cgrams", "clean", cp).awaitTermination(120000))
    }
    assert(contain == Seq.fill(5)(0), s"containment gate: RDDs held after triggers 1-5: $contain")
    // every quote of doc 1 gated out; the novel docs kept
    assert(store.read("clean").select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 22L, 23L, 24L, 25L))
  }

  test("one way to pin: localCheckpoint only in Pins.pin and the staged memo; " +
      "cache, persist and unpersist only in Pins and the three lazy caches") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val pins = root.resolve("graft/core/Pins.scala")
    val runner = root.resolve("graft/pipelines/Runner.scala")
    val cluster = root.resolve("graft/sim/Cluster.scala")
    // (file, code line) → why it may pin or cache outside Pins
    val exempt: Map[(Path, String), String] = Map(
      (root.resolve("graft/Queries.scala"),
        "if (holder.df == null) holder.df = compute.localCheckpoint()") ->
        "Queries.stagedEntry: the session memo outlives every entry scope",
      (runner, "val df = if (alreadySaved) build.cache() else build") ->
        "Runner: a lazy cache filled by the cross-check, read again by the upsert",
      (runner, "} finally if (alreadySaved) df.unpersist()") -> "Runner releases its cache",
      (cluster, ".persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)") ->
        "Cluster.kmeans: a lazy cache filled by the first of its per-round scans",
      (cluster, "} finally src.unpersist(blocking = false)") -> "kmeans releases its cache",
      (root.resolve("graft/Bench.scala"), ".map { case (k, df) => k -> df.cache() }") ->
        "Bench: the datagen sources, filled outside the timed region")
    val banned = Seq("localCheckpoint(", ".cache()", ".persist(", "unpersist(")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != pins).toSeq
    assert(files.nonEmpty)
    val found = for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      code = line.split("//", 2)(0).trim
      if !code.startsWith("*") && !code.startsWith("/*") && banned.exists(code.contains)
    } yield (p, code, i)
    val hits = found.collect { case (p, code, i) if !exempt.contains((p, code)) =>
      s"$p:${i + 1}: $code" }
    assert(hits.isEmpty, hits.mkString(
      "checkpoint pins or caches outside Pins (pin with Pins.pin; the caller that " +
        "materializes releases with Pins.scoped):\n", "\n", ""))
    val stale = exempt.keySet -- found.map { case (p, code, _) => (p, code) }
    assert(stale.isEmpty, s"exemptions that match no line: $stale")
  }
}
