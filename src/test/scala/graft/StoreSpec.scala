package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

import graft.store.{FeatureRegistry, FeatureStore, SchemaDiff, TableStore}

class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_store").toString)

  test("schema diff classifies NEW / MISSING / TYPE_CHANGED") {
    val stored = StructType.fromDDL("a INT, b STRING, c DOUBLE")
    val incoming = StructType.fromDDL("a BIGINT, b STRING, d DATE")
    val d = SchemaDiff.diff(stored, incoming)
    assert(d.newColumns == Seq("d"))
    assert(d.missingColumns == Seq("c"))
    assert(d.typeChanged == Seq(("a", "int", "bigint")))
    assert(!d.isCompatible)
    assert(SchemaDiff.diff(stored, stored).isCompatible)
  }

  test("overwrite + read + versioned time travel") {
    val store = freshStore()
    store.overwrite("t", Seq((1, "x")).toDF("k", "v"), primaryKeys = Seq("k"))
    store.overwrite("t", Seq((2, "y")).toDF("k", "v"))
    assert(store.currentVersion("t") == 1)
    assert(store.read("t").as[(Int, String)].collect().toSeq == Seq((2, "y")))
    assert(store.readVersion("t", 0).as[(Int, String)].collect().toSeq == Seq((1, "x")))
  }

  test("upsert merges by PK: update matched, insert unmatched, idempotent replay") {
    val store = freshStore()
    store.overwrite("f", Seq((1, "2024-01", 10.0), (2, "2024-01", 20.0))
      .toDF("pk", "month", "feat"), primaryKeys = Seq("pk", "month"))
    val batch = Seq((2, "2024-01", 25.0), (3, "2024-01", 30.0)).toDF("pk", "month", "feat")
    store.upsert("f", batch)
    val after = store.read("f").orderBy("pk").as[(Int, String, Double)].collect().toSeq
    assert(after == Seq((1, "2024-01", 10.0), (2, "2024-01", 25.0), (3, "2024-01", 30.0)))
    // replay the same batch: same result (idempotence, SURVEY §5)
    store.upsert("f", batch)
    val replay = store.read("f").orderBy("pk").as[(Int, String, Double)].collect().toSeq
    assert(replay == after)
  }

  test("bucketed snapshots: upsert matches plain semantics and never shuffles the stored side") {
    val store = freshStore()
    val base = (1L to 400L).map(i => (i, i * 2.0)).toDF("pk", "feat")
    store.overwrite("bt", base, primaryKeys = Seq("pk"), buckets = 4)
    val batch1 = (380L to 420L).map(i => (i, i * 3.0)).toDF("pk", "feat")
    store.upsert("bt", batch1)
    val after = store.read("bt").orderBy("pk").as[(Long, Double)].collect().toSeq
    val expected = ((1L to 379L).map(i => (i, i * 2.0)) ++ (380L to 420L).map(i => (i, i * 3.0))).toSeq
    assert(after == expected)
    // the second upsert's merge plan: the stored side is read through the
    // bucketed catalog entry, so the ONLY shuffle is the incoming batch's
    // repartition — at 100 TB that is "shuffle the increment, not the table"
    val batch2 = (1L to 50L).map(i => (i, i * 5.0)).toDF("pk", "feat")
    val m = store.meta("bt").get
    val merged = store.mergedForUpsert("bt", batch2, Seq("pk"), m)
    merged.collect() // finalize THIS dataset's adaptive plan (stage reuse)
    val n = graft.ops.Scale.countExchanges(merged)
    assert(n == 1, s"expected 1 exchange (incoming only), got $n:\n" +
      merged.queryExecution.executedPlan.toString)
    // idempotent replay through the real write path, bucketing preserved
    store.upsert("bt", batch2)
    store.upsert("bt", batch2)
    assert(store.meta("bt").get.buckets == 4)
    assert(store.read("bt").count() == 420)
    assert(store.read("bt").where($"pk" === 10L).head().getDouble(1) == 50.0)
  }

  test("partitioned snapshots: reads prune partition dirs, upserts keep the layout") {
    import org.apache.spark.sql.functions._
    val store = freshStore()
    val df = (1 to 300).map(i => (i.toLong, (i % 6) + 1, i * 1.0)).toDF("id", "month", "amt")
    store.overwrite("pt", df, primaryKeys = Seq("id"), partitionBy = Seq("month"))
    // partition pruning on the store read
    val q = store.read("pt").where(col("month") === 2).select("id", "amt")
    assert(q.count() == 50)
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan"))
    assert(scan.selectedPartitions.partitionCount == 1,
      scan.metadata("PartitionFilters"))
    // upsert: layout + meta survive; semantics unchanged
    store.upsert("pt", Seq((1L, 1, 999.0), (9999L, 3, 5.0)).toDF("id", "month", "amt"))
    assert(store.meta("pt").get.partitionCols == Seq("month"))
    val after = store.read("pt")
    assert(after.where(col("id") === 1L).select("amt").as[Double].head() == 999.0)
    assert(after.count() == 301)
    val scan2 = store.read("pt").where(col("month") === 3)
      .queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    assert(scan2.selectedPartitions.partitionCount == 1)
    // bucketed + partitioned is rejected
    intercept[IllegalArgumentException] {
      store.overwrite("bad", df, primaryKeys = Seq("id"),
        buckets = 4, partitionBy = Seq("month"))
    }
  }

  test("replacePartitions rewrites only touched partitions; untouched files are reused") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    val df = (1L to 300L).map(i => (i, (i % 3 + 1).toInt, i * 1.0)).toDF("id", "month", "amt")
    store.overwrite("rp", df, primaryKeys = Seq("id"), partitionBy = Seq("month"))
    val v0 = store.currentVersion("rp")
    def partFiles(v: Int, month: Int) = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(root, "rp", s"v=$v", s"month=$month")
      java.nio.file.Files.list(d).iterator().asScala.toSeq
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> java.nio.file.Files.getLastModifiedTime(f))
        .toMap
    }
    val m1Before = partFiles(v0, 1)
    Thread.sleep(20) // ensure a rewrite WOULD move mtimes
    val newMonth2 = Seq((9001L, 2, -1.0), (9002L, 2, -2.0)).toDF("id", "month", "amt")
    store.replacePartitions("rp", newMonth2)
    val after = store.read("rp")
    assert(after.where(col("month") === 2).count() == 2)   // replaced wholesale
    assert(after.where(col("month") === 1).count() == 100) // untouched
    assert(after.count() == 202)
    // untouched partition files in the NEW version are the SAME files
    // (hardlinks: identical names and modification times — no rewrite)
    assert(partFiles(store.currentVersion("rp"), 1) == m1Before)
    // time travel: the previous version still has the original month=2 rows
    assert(store.readVersion("rp", v0).where(col("month") === 2).count() == 100)
    // guards: schema must match, table must be partitioned
    intercept[IllegalArgumentException] {
      store.replacePartitions("rp", Seq((1L, 2)).toDF("id", "month"))
    }
    // partition values that hive escapes round-trip: the touched set is
    // listed from the writer's own dir names, so encodings always agree
    store.overwrite("rs",
      Seq((1L, "a b", 1.0), (9L, "keep me", 9.0)).toDF("id", "tag", "amt"),
      primaryKeys = Seq("id"), partitionBy = Seq("tag"))
    store.replacePartitions("rs", Seq((2L, "a b", 2.0)).toDF("id", "tag", "amt"))
    assert(store.read("rs").select("id", "tag").orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "a b"), (9L, "keep me")))
    store.overwrite("flat", df, primaryKeys = Seq("id"))
    intercept[IllegalArgumentException] {
      store.replacePartitions("flat", newMonth2)
    }
  }

  test("diffVersions: per-key added/removed/updated between snapshots") {
    import org.apache.spark.sql.functions.col
    val store = freshStore()
    store.overwrite("cdc", Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("pk", "tag", "amt"), primaryKeys = Seq("pk"))
    // v1: update pk=2, drop pk=3, add pk=4 (replaceWhere keeps the rest)
    store.replaceWhere("cdc", Seq((2L, "b", 99.0), (4L, "d", 4.0))
      .toDF("pk", "tag", "amt"), "pk IN (2, 3)")
    val d = store.diffVersions("cdc", 0, 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(2L -> "updated", 3L -> "removed", 4L -> "added")) // pk=1 silent
  }

  test("upsert evolves schema by null-padding new columns") {
    val store = freshStore()
    store.overwrite("e", Seq((1, 1.0)).toDF("pk", "a"), primaryKeys = Seq("pk"))
    store.upsert("e", Seq((2, 2.0, "new")).toDF("pk", "a", "b"))
    val out = store.read("e").orderBy("pk").collect()
    assert(out.map(_.getAs[Any]("b")).toSeq == Seq(null, "new"))
  }

  test("overwrite mergeSchema: union schema, null-pad missing stored columns, reject type changes") {
    val store = freshStore()
    store.overwrite("m", Seq((1, "x", 1.5)).toDF("pk", "a", "b"), primaryKeys = Seq("pk"))
    // incoming drops `b`, adds `c` → merged schema keeps b (null-padded) and appends c
    store.overwrite("m", Seq((2, "y", true)).toDF("pk", "a", "c"), mergeSchema = true)
    val out = store.read("m")
    assert(out.columns.toSeq == Seq("pk", "a", "b", "c"))
    val row = out.collect().head
    assert(row.getAs[Any]("b") == null && row.getAs[Boolean]("c"))
    // type change is rejected under mergeSchema…
    val typeChanged = Seq((3, 7, 2.0)).toDF("pk", "a", "b") // a: string → int
    intercept[RuntimeException](store.overwrite("m", typeChanged, mergeSchema = true))
    // …and accepted only under overwriteSchema
    store.overwrite("m", typeChanged, overwriteSchema = true)
    assert(store.read("m").schema("a").dataType == IntegerType)
  }

  test("upsert with duplicate PKs in one batch resolves deterministically") {
    val store = freshStore()
    store.overwrite("d", Seq((1, "old")).toDF("pk", "v"), primaryKeys = Seq("pk"))
    val dupBatch = Seq((1, "b1"), (1, "b2"), (2, "n")).toDF("pk", "v")
    store.upsert("d", dupBatch)
    val first = store.read("d").orderBy("pk").as[(Int, String)].collect().toSeq
    // replay (and a reshuffled replay) must pick the same winner
    store.upsert("d", dupBatch.repartition(7))
    val replay = store.read("d").orderBy("pk").as[(Int, String)].collect().toSeq
    assert(first == replay)
    assert(first.map(_._1) == Seq(1, 2))
    assert(Set("b1", "b2").contains(first.head._2)) // incoming beats stored
  }

  test("optimistic concurrency: stale expectedVersion fails, current succeeds") {
    val store = freshStore()
    store.overwrite("oc", Seq((1, "a")).toDF("pk", "v"), primaryKeys = Seq("pk"))
    store.overwrite("oc", Seq((2, "b")).toDF("pk", "v")) // v1: someone else wrote
    // writer that read v0 must NOT clobber v1
    intercept[java.util.ConcurrentModificationException](
      store.overwrite("oc", Seq((3, "c")).toDF("pk", "v"), expectedVersion = Some(0)))
    intercept[java.util.ConcurrentModificationException](
      store.upsert("oc", Seq((3, "c")).toDF("pk", "v"), expectedVersion = Some(0)))
    assert(store.read("oc").count() == 1) // v1 intact
    // matching expectation commits
    store.upsert("oc", Seq((3, "c")).toDF("pk", "v"), expectedVersion = Some(1))
    assert(store.currentVersion("oc") == 2 && store.read("oc").count() == 2)
  }

  test("appendFiles: O(batch) file append — rows accumulate, time travel " +
      "keeps the pre-append version, layout/schema contracts enforced") {
    val store = freshStore()
    store.overwrite("af", Seq((1, "a"), (2, "b")).toDF("pk", "v"),
      primaryKeys = Seq("pk"))
    store.appendFiles("af", Seq((3, "c")).toDF("pk", "v"))
    assert(store.currentVersion("af") == 1)
    assert(store.read("af").orderBy("pk").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
    // hardlinked previous version still time-travels independently
    assert(store.readVersion("af", 0).count() == 2)
    // appends do NOT dedup — the documented caller-owns-PKs contract
    store.appendFiles("af", Seq((3, "c")).toDF("pk", "v"))
    assert(store.read("af").where($"pk" === 3).count() == 2)
    // column order is normalized to the stored schema
    store.appendFiles("af", Seq(("d", 4)).toDF("v", "pk"))
    assert(store.read("af").where($"pk" === 4).as[(Int, String)]
      .collect().toSeq == Seq((4, "d")))
    // exact-schema and plain-layout contracts fail fast
    intercept[IllegalArgumentException](
      store.appendFiles("af", Seq((5, "e", 1.0)).toDF("pk", "v", "extra")))
    store.overwrite("bk", Seq((1, "a")).toDF("pk", "v"),
      primaryKeys = Seq("pk"), buckets = 4)
    intercept[IllegalArgumentException](
      store.appendFiles("bk", Seq((2, "b")).toDF("pk", "v")))
  }

  test("appendFiles is crash-retryable and never absorbs an orphan dir") {
    // every version writer, on every layout it supports, against what a
    // writer killed before its commit leaves at the next version: a
    // crashed overwrite's phantom rows, and a crashed appendFiles' partial
    // hardlinks (a retry's createLink would throw FileAlreadyExists;
    // mode("append") into the dirty dir would keep the phantom)
    val base = (1L to 6L).map(i => (i, (i % 3 + 1).toInt, i * 1.0)).toDF("id", "month", "amt")
    val batch = Seq((7L, 1, 7.0)).toDF("id", "month", "amt")
    def create(layout: String, s: TableStore, t: String): Unit = layout match {
      case "plain" => s.overwrite(t, base, primaryKeys = Seq("id"))
      case "bucketed" => s.overwrite(t, base, primaryKeys = Seq("id"), buckets = 2)
      case "hive" => s.overwrite(t, base, primaryKeys = Seq("id"), partitionBy = Seq("month"))
    }
    val all = Seq("plain", "bucketed", "hive")
    // (entry point, layouts it supports, the op, rows after it)
    val ops = Seq[(String, Seq[String], (TableStore, String) => Unit, Long)](
      ("overwrite", all, (s, t) => s.overwrite(t, batch), 1),
      ("upsert", all, (s, t) => s.upsert(t, batch), 7),
      ("append", Seq("plain", "hive"), (s, t) => s.append(t, batch), 7),
      ("appendFiles", Seq("plain", "hive"), (s, t) => s.appendFiles(t, batch), 7),
      ("replaceWhere", all, (s, t) => s.replaceWhere(t, batch, "month = 1"), 5),
      ("replacePartitions", Seq("hive"), (s, t) => s.replacePartitions(t, batch), 5),
      ("compact", all, (s, t) => s.compact(t, n = 1, retain = 2), 6),
      ("FeatureStore.save", all, (s, t) =>
        FeatureStore.save(s, t, batch, Seq("id"), Nil), 7),
      ("upsert through a txn view", all, (s, t) => s.txn("ck", 0).upsert(t, batch), 7))
    for ((op, supported, run, rows) <- ops; layout <- supported) {
      val root = Files.createTempDirectory("graft_store_orphan")
      val store = new TableStore(spark, root.toString)
      val t = "o"
      create(layout, store, t)
      val (v0, v1) = (root.resolve(t).resolve("v=0"), root.resolve(t).resolve("v=1"))
      val phantom = Seq((99L, 1, -99.0)).toDF("id", "month", "amt").write
      if (layout == "hive") phantom.partitionBy("month").parquet(v1.toString)
      else phantom.parquet(v1.toString)
      // one data file of v=0 linked at its own relative path under v=1
      val linked = Files.walk(v0).iterator().asScala
        .find(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")).get
      val dst = v1.resolve(v0.relativize(linked).toString)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, linked)
      val what = s"$op on a $layout table"
      run(store, t)
      assert(store.currentVersion(t) == 1, what)
      val out = store.read(t)
      assert(out.where($"id" === 99L).count() == 0, s"$what: a phantom row surfaced")
      assert(out.count() == rows, what)
    }
  }

  test("txn view: stamps on first write, a replay reads the version before its " +
      "txn and writes nothing, later writes carry the txn forward") {
    val root = Files.createTempDirectory("graft_store_txn")
    val store = new TableStore(spark, root.toString)
    def ints(t: String, s: TableStore = store) = s.read(t).as[Int].collect().sorted.toSeq
    def txnOf(t: String) = store.meta(t).get.txn
    store.overwrite("t", Seq(1).toDF("k"), primaryKeys = Seq("k")) // v0, no txn
    assert(txnOf("t").isEmpty)
    // batch 0 appends (v1) and creates a table (v0)
    val b0 = store.txn("ck", 0)
    assert(!b0.committed("t"))
    b0.appendFiles("t", Seq(2).toDF("k"))
    b0.overwrite("made", Seq(5).toDF("k"), primaryKeys = Seq("k"))
    assert(txnOf("t").contains(TableStore.Txn("ck", 0, 1)))
    assert(txnOf("made").contains(TableStore.Txn("ck", 0, 0)))
    // its replay sees each table as it was before the txn, and its writes
    // are no-ops: the versions do not move
    val replay = store.txn("ck", 0)
    assert(replay.committed("t") && replay.committed("made"))
    assert(replay.exists("t") && ints("t", replay) == Seq(1))
    assert(!replay.exists("made") && store.exists("made"))
    intercept[RuntimeException](replay.read("made"))
    replay.appendFiles("t", Seq(2).toDF("k"))
    replay.overwrite("made", Seq(6).toDF("k"))
    assert(store.currentVersion("t") == 1 && ints("t") == Seq(1, 2))
    assert(store.currentVersion("made") == 0 && ints("made") == Seq(5))
    // the base store and a later batch read the current version
    val b1 = store.txn("ck", 1)
    assert(!b1.committed("t") && !store.committed("t"))
    assert(ints("t", b1) == Seq(1, 2) && b1.exists("made"))
    // a base upsert and compact carry the txn forward
    store.upsert("t", Seq(3).toDF("k"))
    assert(store.currentVersion("t") == 2 && txnOf("t").contains(TableStore.Txn("ck", 0, 1)))
    store.compact("t")
    assert(store.currentVersion("t") == 3 && txnOf("t").contains(TableStore.Txn("ck", 0, 1)))
    // a later batch stamps its own; an earlier batch's write is then a no-op
    b1.upsert("t", Seq(4).toDF("k"))
    assert(txnOf("t").contains(TableStore.Txn("ck", 1, 4)))
    store.txn("ck", 0).upsert("t", Seq(9).toDF("k"))
    assert(store.currentVersion("t") == 4 && ints("t") == Seq(1, 2, 3, 4))
    // a second write through one view is a programming error
    val second = intercept[IllegalStateException](b1.upsert("t", Seq(7).toDF("k")))
    assert(second.getMessage.contains("second write"))
    // another app fails fast on read, write and the metadata check
    val other = store.txn("fresh", 0)
    Seq[TableStore => Any](_.read("t"), _.committed("t"),
        _.upsert("t", Seq(8).toDF("k"))).foreach { op =>
      val e = intercept[IllegalStateException](op(other))
      assert(e.getMessage.contains("'ck'") && e.getMessage.contains("'fresh'"), e.getMessage)
    }
    assert(store.currentVersion("t") == 4)
    // the txn is on disk only where a view wrote: other tables keep their bytes
    store.overwrite("plain", Seq(1).toDF("k"))
    def metaText(t: String) = Files.readString(root.resolve(t).resolve("_meta.json"))
    assert(metaText("t").contains("\"txn\":{\"app\":\"ck\",\"batch\":1,\"version\":4}"))
    assert(!metaText("plain").contains("txn"))
    assert(new TableStore(spark, root.toString).meta("t") == store.meta("t"))
  }

  test("crash consistency: a snapshot dir without the _meta.json commit is " +
      "invisible, CAS-retryable, and reclaimed by the next write/compact") {
    // The commit point is the single _meta.json pointer write (TableStore
    // Scaladoc): a writer killed AFTER writeSnapshot but BEFORE writeMeta
    // leaves an orphan v=N dir. Simulate the kill by writing the snapshot
    // dir directly, never touching the meta.
    val root = Files.createTempDirectory("graft_store_crash")
    val store = new TableStore(spark, root.toString)
    store.overwrite("cc", Seq((1, "a")).toDF("pk", "v"), primaryKeys = Seq("pk"))
    store.overwrite("cc", Seq((2, "b")).toDF("pk", "v")) // committed v1
    Seq((99, "ORPHAN")).toDF("pk", "v").write
      .parquet(root.resolve("cc").resolve("v=2").toString) // killed writer
    // invisible to every reader surface: version pointer, read(), exists
    assert(store.currentVersion("cc") == 1)
    assert(store.exists("cc"))
    assert(store.read("cc").as[(Int, String)].collect().toSeq == Seq((2, "b")))
    // the killed writer's RETRY composes with optimistic CAS: meta was
    // never touched, so expectedVersion = the version it read still
    // matches; the retry claims v=2, clobbering the orphan files —
    // the orphan's rows must never surface
    store.overwrite("cc", Seq((3, "c")).toDF("pk", "v"),
      expectedVersion = Some(1))
    assert(store.currentVersion("cc") == 2)
    assert(store.read("cc").as[(Int, String)].collect().toSeq == Seq((3, "c")))
    // a fresh orphan above the new current is reclaimed by compact, which
    // writes over the orphan slot and prunes history — afterwards the
    // table dir holds ONLY the retained committed snapshot
    Seq((98, "ORPHAN2")).toDF("pk", "v").write
      .parquet(root.resolve("cc").resolve("v=3").toString)
    store.compact("cc", n = 1, retain = 1)
    assert(store.currentVersion("cc") == 3)
    assert(store.read("cc").as[(Int, String)].collect().toSeq == Seq((3, "c")))
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(root.resolve("cc")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("v=")).toSet
    assert(dirs == Set("v=3"), s"leftover snapshot dirs: $dirs")
  }

  test("multi-writer contract: concurrent same-JVM writers (even via two " +
      "store instances over one root) serialize — no lost updates") {
    // the two-foreachBatch-gates-one-app scenario (r14 verdict item 7):
    // every commit must survive, one version per commit, whichever
    // TableStore instance issued it (the write lock is keyed on the
    // NORMALIZED root, not the instance)
    val root = Files.createTempDirectory("graft_store_race").toString
    val s1 = new TableStore(spark, root)
    val s2 = new TableStore(spark, root + "/.") // same dir, different spelling
    s1.overwrite("race", Seq((0L, 0L)).toDF("id", "x"), primaryKeys = Seq("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(s1, s2).zipWithIndex.map { case (st, t) =>
      new Thread(() => try {
        (1 to 12).foreach { i =>
          st.upsert("race", Seq((t * 1000L + i, i.toLong)).toDF("id", "x"), Seq("id"))
        }
      } catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent writer failed: ${errs.peek()}")
    assert(s1.read("race").count() == 25)       // 1 seed + 24 upserted rows
    assert(s1.currentVersion("race") == 24)     // one version per commit
    // different tables never contend: a writer on another table proceeds
    s2.overwrite("other", Seq((1L, 1L)).toDF("id", "x"), primaryKeys = Seq("id"))
    assert(s2.read("other").count() == 1)
  }

  test("appendFiles on a hive-partitioned table: O(batch) write, hardlinked " +
      "history, partition layout intact") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    val df = (1L to 300L).map(i => (i, (i % 3 + 1).toInt, i * 1.0)).toDF("id", "month", "amt")
    store.overwrite("pa", df, primaryKeys = Seq("id"), partitionBy = Seq("month"))
    val v0 = store.currentVersion("pa")
    def partFiles(v: Int, month: Int) = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(root, "pa", s"v=$v", s"month=$month")
      java.nio.file.Files.list(d).iterator().asScala.toSeq
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> java.nio.file.Files.getLastModifiedTime(f))
        .toMap
    }
    val m1Before = partFiles(v0, 1)
    Thread.sleep(20)
    // batch touches months 2 and 4 (4 is a NEW partition value)
    store.appendFiles("pa",
      Seq((9001L, 2, -1.0), (9002L, 4, -2.0)).toDF("id", "month", "amt"))
    val after = store.read("pa")
    assert(after.count() == 302)
    assert(after.where(col("month") === 2).count() == 101) // appended, not replaced
    assert(after.where(col("month") === 4).count() == 1)   // new partition dir
    // untouched AND touched previous files ride as hardlinks (same names,
    // same mtimes — appendFiles rewrites nothing)
    val v1 = store.currentVersion("pa")
    assert(partFiles(v1, 1) == m1Before)
    assert(partFiles(v1, 2).keySet.intersect(partFiles(v0, 2).keySet)
      == partFiles(v0, 2).keySet)
    // time travel: the previous version has no appended rows
    assert(store.readVersion("pa", v0).count() == 300)
    // partition pruning still works on the appended snapshot: the month
    // predicate reads only that partition's dirs
    val scanned = after.where(col("month") === 4).select("id")
      .queryExecution.executedPlan.toString
    assert(store.read("pa").where(col("month") === 4)
      .select("id").as[Long].collect().toSeq == Seq(9002L), scanned)
  }

  test("compact preserves the hive partition layout — replacePartitions " +
      "after compact keeps untouched rows (r15 regression)") {
    import org.apache.spark.sql.functions.col
    val store = freshStore()
    val df = (1L to 90L).map(i => (i, (i % 3 + 1).toInt, i * 1.0)).toDF("id", "month", "amt")
    store.overwrite("pc", df, primaryKeys = Seq("id"), partitionBy = Seq("month"))
    store.appendFiles("pc", Seq((9001L, 2, -1.0)).toDF("id", "month", "amt"))
    store.compact("pc", n = 1, retain = 1)
    // the compacted snapshot still has hive dirs (pruning + the
    // replacePartitions contract depend on them)
    assert(store.read("pc").count() == 91)
    val newMonth2 = Seq((9100L, 2, -9.0)).toDF("id", "month", "amt")
    store.replacePartitions("pc", newMonth2)
    val after = store.read("pc")
    assert(after.where(col("month") === 2).count() == 1)   // replaced wholesale
    assert(after.where(col("month") === 1).count() == 30)  // NOT silently dropped
    assert(after.where(col("month") === 3).count() == 30)
    assert(after.count() == 61)
  }

  test("replaceWhere keeps the hive partition layout — replacePartitions " +
      "after replaceWhere keeps untouched rows") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_store_rwh")
    val store = new TableStore(spark, root.toString)
    val df = (1L to 90L).map(i => (i, (i % 3 + 1).toInt, i * 1.0)).toDF("id", "month", "amt")
    store.overwrite("pw", df, primaryKeys = Seq("id"), partitionBy = Seq("month"))
    store.replaceWhere("pw", Seq((9000L, 1, -1.0)).toDF("id", "month", "amt"), "month = 1")
    assert(store.read("pw").count() == 61)
    store.replacePartitions("pw", Seq((9100L, 2, -9.0)).toDF("id", "month", "amt"))
    val after = store.read("pw")
    assert(after.count() == 32)
    assert(after.where(col("month") === 1).count() == 1)
    assert(after.where(col("month") === 2).count() == 1)   // replaced wholesale
    assert(after.where(col("month") === 3).count() == 30)  // NOT silently dropped
    // the replaceWhere snapshot has hive dirs, and a month filter reads one
    val v1 = root.resolve("pw").resolve("v=1")
    assert(Files.list(v1).iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet == Set("month=1", "month=2", "month=3"))
    val scan = store.readVersion("pw", 1).where(col("month") === 3)
      .queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan"))
    assert(scan.selectedPartitions.partitionCount == 1, scan.metadata("PartitionFilters"))
  }

  test("replaceWhere rewrites only the matching slice") {
    val store = freshStore()
    store.overwrite("r", Seq((1, "2024-01", 1.0), (2, "2024-02", 2.0))
      .toDF("pk", "month", "x"), primaryKeys = Seq("pk"))
    store.replaceWhere("r", Seq((9, "2024-02", 9.0)).toDF("pk", "month", "x"),
      "month = '2024-02'")
    val out = store.read("r").orderBy("pk").as[(Int, String, Double)].collect().toSeq
    assert(out == Seq((1, "2024-01", 1.0), (9, "2024-02", 9.0)))
  }

  test("a failed query after a commit is not re-planned by a listener: no " +
      "ExecutionListenerBus ERROR") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    // a session of its own: a listener installed on the shared session by
    // another suite must not decide this case
    val session = spark.newSession()
    val store = new TableStore(session, Files.createTempDirectory("graft_store_listener").toString)
    val rows = session.createDataFrame(Seq(Tuple1(1), Tuple1(2))).toDF("k")
    store.overwrite("c", rows, primaryKeys = Seq("k"))
    FeatureStore.save(store, "c", rows, Seq("k"), Nil)
    store.compact("c", n = 1, retain = 1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-listener-errors", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.sql.util.ExecutionListenerBus")
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      intercept[Exception](store.readVersion("c", 0).collect()) // pruned
      org.apache.spark.TestBus.drain(session.sparkContext)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
  }

  test("compact prunes old versions but keeps the latest") {
    val store = freshStore()
    store.overwrite("c", Seq(1).toDF("k"), primaryKeys = Seq("k"))
    store.overwrite("c", Seq(2).toDF("k"))
    store.compact("c", n = 1, retain = 1)
    assert(store.read("c").as[Int].collect().toSeq == Seq(2))
    intercept[Exception](store.readVersion("c", 0).collect()) // pruned
  }

  test("properties round-trip through _meta.json") {
    val store = freshStore()
    store.overwrite("p", Seq(1).toDF("k"), primaryKeys = Seq("k"),
      timestampKeys = Seq("k"), description = "a \"quoted\" description\nline2")
    store.setProperties("p", Map("team" -> "graft", "tier" -> "gold"))
    val m = store.meta("p").get
    assert(m.properties("team") == "graft")
    assert(m.description.contains("\"quoted\""))
    assert(m.primaryKeys == Seq("k") && m.timestampKeys == Seq("k"))
    // every character class the writer must escape or pass through
    val awkward = "q\"uote b\\ack\\slash\nnew\ttab\rcr\u0001ctl café 日本語 \uD83D\uDE80"
    store.setProperties("p", Map(awkward -> awkward, "plain" -> awkward))
    store.upsert("p", Seq(2).toDF("k")) // a data commit carries them forward
    val m2 = store.meta("p").get
    assert(m2.properties(awkward) == awkward && m2.properties("plain") == awkward)
    assert(m2.properties("team") == "graft" && m2.version == 1)
    assert(m2.description == "a \"quoted\" description\nline2")
    assert(m2.schema.map(f => (f.name, f.dataType)) == Seq("k" -> IntegerType))
  }

  /** A `_meta.json` and a registry entry exactly as the earlier
    * string-templated writers produced them (escapes `"` `\` `\n` `\r`
    * `\t` and other control characters as `\u00XX`, everything else raw
    * UTF-8), so stores written before the Jackson codec stay readable. */
  test("format compatibility: files of the earlier writer parse to the same Meta and Entry") {
    val root = Files.createTempDirectory("graft_store_compat")
    val schemaJson = StructType.fromDDL("k BIGINT NOT NULL, ts DATE, v STRING").json
    val escSchema = schemaJson.replace("\\", "\\\\").replace("\"", "\\\"")
    // the escaped text of: say "hi" C:\tmp <newline> next <tab> t <U+0001> café 日本語 🚀
    val escAwkward = """say \"hi\" C:\\tmp\nnext\tt""" + "\\u0001" + " café 日本語 \uD83D\uDE80"
    val awkward = "say \"hi\" C:\\tmp\nnext\tt\u0001 café 日本語 \uD83D\uDE80"
    Files.createDirectories(root.resolve("old"))
    Files.writeString(root.resolve("old").resolve("_meta.json"),
      s"""{"version":3,"schemaJson":"$escSchema",""" +
        """"primaryKeys":["k"],"timestampKeys":["ts"],"buckets":0,"partitionCols":[],""" +
        s""""description":"$escAwkward","properties":{"team":"graft","$escAwkward":"$escAwkward"}}""")
    val m = new TableStore(spark, root.toString).meta("old").get
    assert(m == TableStore.Meta(3, schemaJson, Seq("k"), Seq("ts"), 0, awkward,
      Map("team" -> "graft", awkward -> awkward), Nil))
    assert(m.schema.fieldNames.toSeq == Seq("k", "ts", "v"))
    // files from before buckets / partitionCols were recorded read as their defaults
    Files.createDirectories(root.resolve("older"))
    Files.writeString(root.resolve("older").resolve("_meta.json"),
      s"""{"version":0,"schemaJson":"$escSchema","primaryKeys":["k"],"timestampKeys":[],""" +
        """"description":"","properties":{}}""")
    val old = new TableStore(spark, root.toString).meta("older").get
    assert(old.buckets == 0 && old.partitionCols == Nil && old.version == 0)

    val regDir = Files.createTempDirectory("graft_registry_compat")
    Files.writeString(regDir.resolve("fs_cus_x.json"),
      s"""{"table":"fs_cus_x","schemaJson":"$escSchema",""" +
        """"primaryKeys":["k","ts"],"timestampKeys":["ts"],""" +
        s""""description":"$escAwkward","tags":{"$escAwkward":"$escAwkward"},""" +
        """"dataSources":["clientes","pagos"]}""")
    val reg = new FeatureRegistry(spark, regDir.toString)
    val e = reg.getTable("fs_cus_x").get
    assert(e == FeatureRegistry.Entry("fs_cus_x", schemaJson, Seq("k", "ts"), Seq("ts"),
      awkward, Map(awkward -> awkward), Seq("clientes", "pagos")))
    // the new writer's output round-trips
    reg.addDataSources("fs_cus_x", Seq("buro"))
    assert(reg.getTable("fs_cus_x").get == e.copy(dataSources = Seq("clientes", "pagos", "buro")))
    assert(reg.tables == Seq("fs_cus_x"))
  }

  test("a torn _meta.json raises an error naming it; a killed writer's temp file is ignored") {
    val root = Files.createTempDirectory("graft_store_torn")
    val store = new TableStore(spark, root.toString)
    store.overwrite("t", Seq((1, "a")).toDF("pk", "v"), primaryKeys = Seq("pk"))
    store.upsert("t", Seq((2, "b")).toDF("pk", "v"))
    val dir = root.resolve("t")
    def names(d: Path) = Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet
    // publishing leaves no temp file behind
    assert(names(dir) == Set("_meta.json", "v=0", "v=1"))
    // a writer killed before its rename leaves a half-written temp file
    // beside the pointer; readers never look at it
    Files.writeString(dir.resolve("._meta.json.0b1c.tmp"), "{\"version\":7,\"sch")
    assert(store.currentVersion("t") == 1)
    assert(store.read("t").count() == 2)
    store.upsert("t", Seq((3, "c")).toDF("pk", "v"))
    assert(store.currentVersion("t") == 2)
    val regDir = Files.createTempDirectory("graft_registry_torn")
    val reg = new FeatureRegistry(spark, regDir.toString)
    reg.registerTable("t", store.meta("t").get.schema, Seq("pk"), Nil)
    Files.writeString(regDir.resolve(".t.json.0b1c.tmp"), "{\"table\":\"t\",")
    assert(reg.tables == Seq("t") && reg.getTable("t").get.primaryKeys == Seq("pk"))
    // a torn pointer (truncated to half) fails loudly instead of reading
    // as version 0 with no schema and no keys
    val meta = dir.resolve("_meta.json")
    val bytes = Files.readAllBytes(meta)
    Files.write(meta, bytes.take(bytes.length / 2))
    val err = intercept[IllegalStateException](store.meta("t"))
    assert(err.getMessage.contains(meta.toString), err.getMessage)
    intercept[IllegalStateException](store.read("t"))
    intercept[IllegalStateException](store.upsert("t", Seq((4, "d")).toDF("pk", "v")))
    // trailing bytes and a missing required field are malformed too
    Files.writeString(meta, new String(bytes, "UTF-8") + "}")
    intercept[IllegalStateException](store.meta("t"))
    Files.writeString(meta, "{\"schemaJson\":\"{}\"}")
    assert(intercept[IllegalStateException](store.meta("t")).getMessage.contains("version"))
    val entry = regDir.resolve("t.json")
    Files.write(entry, Files.readAllBytes(entry).take(10))
    assert(intercept[IllegalStateException](reg.getTable("t"))
      .getMessage.contains(entry.toString))
  }

  test("metadata operations launch no Spark job; current-version reads pin the " +
      "recorded schema, equal to the footer-inferred one") {
    val root = Files.createTempDirectory("graft_store_jobs")
    val store = new TableStore(spark, root.toString)
    val reg = new FeatureRegistry(spark, Files.createTempDirectory("graft_registry_jobs").toString)
    store.overwrite("plain", Seq((1L, "x", 1.5)).toDF("k", "s", "d"), primaryKeys = Seq("k"))
    store.overwrite("hive", (1 to 12).map(i => (i.toLong, i % 3, i * 1.0, s"t$i"))
      .toDF("id", "month", "amt", "tag"), primaryKeys = Seq("id"), partitionBy = Seq("month"))
    store.setProperties("plain", Map("team" -> "graft"))
    reg.registerTable("plain", store.meta("plain").get.schema, Seq("k"), Nil)
    val (_, metaJobs) = TestSpark.jobsOf {
      store.meta("plain"); store.meta("hive")
      store.exists("plain"); store.exists("absent")
      store.currentVersion("hive")
      store.setProperties("plain", Map("team" -> "graft")) // no change: no write
      reg.getTable("plain")
    }
    assert(metaJobs == 0)
    val (_, readJobs) = TestSpark.jobsOf {
      store.read("plain"); store.read("hive")
      store.readVersion("plain", store.currentVersion("plain"))
    }
    assert(readJobs == 0)

    /** The current read's schema against Spark's footer inference over the
      * same version dir — names, types, nullability and order. */
    def sameAsInferred(t: String): Unit = {
      val dir = root.resolve(t).resolve(s"v=${store.currentVersion(t)}")
      val inferred = spark.read.parquet(dir.toString).schema
      assert(store.read(t).schema == inferred, s"$t: ${store.read(t).schema} vs $inferred")
      assert(store.readVersion(t, store.currentVersion(t)).schema == inferred)
    }
    sameAsInferred("plain")
    sameAsInferred("hive") // partition column last, as inference puts it
    assert(store.read("hive").columns.toSeq == Seq("id", "amt", "tag", "month"))
    // mergeSchema overwrite: a stored column null-padded, a new one appended
    store.overwrite("plain", Seq((2L, "y", true)).toDF("k", "s", "b"), mergeSchema = true)
    sameAsInferred("plain")
    // an upsert that adds a column, on both layouts
    store.upsert("plain", Seq((3L, "z", 2.5, false, 7)).toDF("k", "s", "d", "b", "n"))
    sameAsInferred("plain")
    assert(store.read("plain").columns.toSeq == Seq("k", "s", "d", "b", "n"))
    store.upsert("hive", Seq((99L, 1, 9.0, "new", 3L)).toDF("id", "month", "amt", "tag", "extra"))
    sameAsInferred("hive")
    assert(store.read("hive").where($"id" === 99L).select("extra").as[Long].head() == 3L)
    // partition columns take the stored type: digit strings stay strings,
    // where inference would type them from the directory names as ints
    store.overwrite("digits", Seq((1L, "2024")).toDF("id", "yr"), primaryKeys = Seq("id"),
      partitionBy = Seq("yr"))
    assert(store.read("digits").schema("yr").dataType == StringType)
    assert(spark.read.parquet(root.resolve("digits").resolve("v=0").toString)
      .schema("yr").dataType == IntegerType)
  }

  test("Sources: layered read/write resolution and existence probes") {
    val tmp = Files.createTempDirectory("graft_layers")
    val sources = new graft.store.Sources(spark, Map(
      "source" -> "/root/testdata/sf0.001",
      "ingestion" -> s"$tmp/ingestion",
      "preprocessing" -> s"$tmp/preprocessing"))
    // raw source layer
    val raw = sources.getTable("region", "source")
    assert(raw.count() == 5)
    assert(sources.tableExists("region", "source"))
    assert(!sources.tableExists("nope", "source"))
    // curated layer via TableStore (upsert path)
    sources.putTable("region_clean", "ingestion", raw, primaryKeys = Seq("r_regionkey"))
    sources.putTable("region_clean", "ingestion", raw, primaryKeys = Seq("r_regionkey"))
    assert(sources.getTable("region_clean", "ingestion").count() == 5) // idempotent
    assert(sources.tableExists("region_clean", "ingestion"))
    intercept[RuntimeException](sources.getTable("x", "nope"))
    // other raw formats route through the same resolution
    val rawDir = Files.createTempDirectory("graft_raw").toString
    val multi = new graft.store.Sources(spark, Map("source" -> rawDir))
    raw.write.option("header", "true").mode("overwrite").csv(s"$rawDir/region.csv")
    raw.write.mode("overwrite").json(s"$rawDir/region.json")
    raw.write.mode("overwrite").orc(s"$rawDir/region.orc")
    assert(multi.getTable("region", "source", "csv").count() == 5)
    assert(multi.getTable("region", "source", "json").count() == 5)
    assert(multi.getTable("region", "source", "orc").count() == 5)
    intercept[RuntimeException](multi.getTable("region", "source", "avro"))
  }

  test("FeatureStore.save: fail-on-missing policy, then force path") {
    val store = freshStore()
    val r1 = FeatureStore.save(store, "fs", Seq((1, "m", 1.0)).toDF("pk", "ts", "a"),
      Seq("pk", "ts"), Seq("ts"))
    assert(r1.version == 0 && r1.diff.isEmpty)
    // dropping column "a" must fail under FailOnMissing
    intercept[RuntimeException] {
      FeatureStore.save(store, "fs", Seq((1, "m")).toDF("pk", "ts"), Seq("pk", "ts"), Seq("ts"))
    }
    // new column via upsert path is fine
    val r2 = FeatureStore.save(store, "fs", Seq((2, "m", 2.0, 5)).toDF("pk", "ts", "a", "b"),
      Seq("pk", "ts"), Seq("ts"))
    assert(r2.version == 1 && r2.diff.get.newColumns == Seq("b"))
    assert(store.read("fs").count() == 2)
  }

  test("SaveReport.rows is the committed snapshot's row count, counted by its write") {
    val store = freshStore()
    val pks = Seq("pk", "ts")
    def save(t: String, df: org.apache.spark.sql.DataFrame, force: Boolean = false) =
      FeatureStore.save(store, t, df, pks, Seq("ts"), forceOverwrite = force,
        policy = FeatureStore.IgnoreMissing)
    def matchesRead(r: FeatureStore.SaveReport): Unit =
      assert(r.rows == store.read(r.table).count(), r)
    // a first overwrite
    val first = save("rc", (1 to 6).map(i => (i, "2024-01", i * 1.0)).toDF("pk", "ts", "a"))
    assert(first.rows == 6)
    matchesRead(first)
    // an upsert whose batch lacks keys the table keeps: the stored rows
    // outnumber the batch (one key updated, one inserted)
    val up = save("rc", Seq((2, "2024-01", 9.0), (7, "2024-01", 7.0)).toDF("pk", "ts", "a"))
    assert(up.version == 1 && up.rows == 7)
    matchesRead(up)
    // a mergeSchema-padded overwrite: stored column `a` is null-padded
    val padded = save("rc", Seq((1, "2024-02", 5), (2, "2024-02", 6)).toDF("pk", "ts", "b"),
      force = true)
    assert(padded.rows == 2 && store.read("rc").columns.toSeq == Seq("pk", "ts", "a", "b"))
    matchesRead(padded)
    // bucketed and hive-partitioned tables: the write is a catalog table
    // or a partitioned one, and still counted
    val batch = (1 to 5).map(i => (i, s"2024-0${i % 2 + 1}", i * 2.0)).toDF("pk", "ts", "a")
    store.overwrite("rcb", batch.where($"pk" <= 3), primaryKeys = pks, buckets = 2)
    store.overwrite("rcp", batch.where($"pk" <= 3), primaryKeys = pks, partitionBy = Seq("ts"))
    Seq("rcb", "rcp").foreach { t =>
      val r = save(t, batch.where($"pk" >= 2))
      assert(r.rows == 5, t)
      matchesRead(r)
    }
    // 0-row frames, under a timeout: an observation that never completes
    // fails the spec instead of hanging it
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def bounded[T](body: => T): T = Await.result(Future(body), 2.minutes)
    val none = Seq.empty[(Int, String, Double)].toDF("pk", "ts", "a")
    val emptyFirst = bounded(save("rc0", none))
    assert(emptyFirst.rows == 0)
    matchesRead(emptyFirst)
    val emptyFiltered = bounded(save("rc0", (1 to 3).map(i => (i, "2024-01", 1.0))
      .toDF("pk", "ts", "a").where($"pk" > 10), force = true))
    assert(emptyFiltered.version == 1 && emptyFiltered.rows == 0)
    matchesRead(emptyFiltered)
    // an empty batch upserted into a full table leaves its rows
    val emptyUpsert = bounded(save("rc", none.select($"pk", $"ts", $"a".cast("int").as("b"))))
    assert(emptyUpsert.rows == 2)
    matchesRead(emptyUpsert)
  }

  test("one commit protocol: writeMeta, commitGuard and the version bump appear " +
      "only inside TableStore.commit") {
    val src = java.nio.file.Paths.get("src/main/scala/graft/store/TableStore.scala")
    assert(Files.isRegularFile(src), s"run from the repo root (no $src)")
    val lines = Files.readAllLines(src).asScala.toIndexedSeq
    /** The lines of the member defined on the line containing `head`, up to
      * the next line at member indentation (its closing brace). */
    def member(head: String): Range = {
      val start = lines.indexWhere(_.contains(head))
      assert(start >= 0, s"no `$head` in $src")
      start to lines.indexWhere(l => l.startsWith("  ") && !l.startsWith("   "), start + 1)
    }
    val commit = member("def commit[")
    // setProperties publishes metadata without writing a version
    val setProperties = member("def setProperties(")
    val protocol = Seq("writeMeta(", "commitGuard(")
    val bump = """version\s*\+\s*1|versionDir\([^)]*\+\s*1""".r
    val code = lines.zipWithIndex.filterNot { case (l, _) =>
      val t = l.trim
      Seq("*", "/**", "//").exists(t.startsWith) ||
        Seq("def writeMeta(", "def commitGuard(").exists(t.contains)
    }
    val hits = code.collect {
      case (l, i) if (protocol.exists(l.contains) || bump.findFirstIn(l).isDefined) &&
          !commit.contains(i) && !(setProperties.contains(i) && l.contains("writeMeta(")) =>
        s"$src:${i + 1}: ${l.trim}"
    }
    assert(hits.isEmpty, hits.mkString(
      "version commit steps outside TableStore.commit (run the op's body through commit):\n",
      "\n", ""))
    // and commit runs each step once
    (protocol :+ "version + 1").foreach { step =>
      assert(code.count { case (l, i) => commit.contains(i) && l.contains(step) } == 1, step)
    }
  }

  test("one replay mechanism: no hand-built exactly-once state in src/main, and " +
      "a txn is stamped only inside TableStore.commit") {
    val main = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repo root (no $main)")
    val store = main.resolve("graft/store/TableStore.scala")
    val storeLines = Files.readAllLines(store).asScala.toIndexedSeq
    /** Line indices of the member defined on the line containing `head`. */
    def member(head: String): Range = {
      val start = storeLines.indexWhere(_.contains(head))
      assert(start >= 0, s"no `$head` in $store")
      start to storeLines.indexWhere(l => l.startsWith("  ") && !l.startsWith("   "), start + 1)
    }
    // the one place a txn is created (commit) and the one it is decoded
    val allowed = member("def commit[") ++ member("def decode(")
    val retired = Seq("applied_batch", "applied_ckpt", "__seedlog", "excludeCorpusIds", "mergeDf")
    val stamp = """\bTxn\(|\btxn\s*=(?!=)""".r
    val hits = Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString).flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if retired.exists(l.contains) ||
              (stamp.findFirstIn(l).isDefined && !l.contains("case class Txn(") &&
                !(f == store && allowed.contains(i))) =>
            s"$f:${i + 1}: ${l.trim}"
        }
      }
    assert(hits.isEmpty, hits.mkString(
      "replay state outside the store's txn (write through store.txn(app, batch); " +
        "only TableStore.commit stamps a txn):\n", "\n", ""))
  }
}
