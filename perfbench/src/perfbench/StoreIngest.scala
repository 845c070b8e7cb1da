package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.store.TableStore
import graft.streaming.Streaming

/** The store leg of a traced feature_refresh run: one writer, many small
  * commits on one table. `Rounds` rounds, each an upsert of `Batch` rows
  * (half updates of existing keys, half new keys), a metadata read, a
  * primary-key point read and a time-travel read of the previous version;
  * then `Streaming.incrementalKsGate` over `Triggers` staged event files,
  * one trigger per file; then the table ops the rounds do not use
  * (`FeatureStore.save` and registration run in feature_refresh's own
  * probe, on its feature tables).
  *
  * Rounds alternate traced and untraced, the first traced: the wall time
  * of the two kinds gives feature_refresh's tracing overhead
  * (`trace.round_s.traced` against `trace.round_s.plain`).
  *
  * Inputs from the seed: the `Rows`-row starting table, each round's keys
  * and values, the point-read keys and the event values. */
final class StoreIngest(ctx: Ctx) {
  import ctx.spark
  import spark.implicits._

  val Rows = 100000
  val Rounds = 8
  val Batch = 1000
  val Triggers = 5
  val EventsPerTrigger = 2000
  val Table = "accounts"

  private var store: TableStore = _
  private var root: Path = _
  /** Last-writer-wins reference: key -> (a, s). */
  private val reference = mutable.HashMap.empty[Long, (Long, String)]
  /** (rows, sum of row CRCs) of every committed version. */
  private val versions = mutable.HashMap.empty[Int, (Long, Long)]
  private var nextKey = 0L
  private var batchBytes = 1L
  private var eventDir: String = _

  private def rng(salt: Long) = new SplittableRandom(ctx.seed * 1000003L + salt)

  private def crc(k: Long, a: Long, s: String): Long = {
    val c = new CRC32
    c.update(s"$k|$a|$s".getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  private def refFingerprint: (Long, Long) =
    (reference.size.toLong, reference.iterator.map { case (k, (a, s)) => crc(k, a, s) }.sum)

  /** The same fingerprint computed by Spark over stored rows. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(crc32(concat_ws("|", col("k"), col("a"), col("s")))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def run(): Unit = {
    setup()
    (0 until Rounds).foreach { i =>
      val on = i % 2 == 0
      ctx.traced(on) {
        val t0 = System.nanoTime()
        round(i)
        ctx.gauge(if (on) "trace.round_s.traced" else "trace.round_s.plain",
          (System.nanoTime() - t0) / 1e9)
      }
    }
    streaming()
    probe()
  }

  private def setup(): Unit = {
    root = ctx.work.resolve("store_ingest")
    Disk.deleteTree(root)
    store = new TableStore(spark, root.resolve("store").toString)
    val r = rng(-1)
    val rows = (0L until Rows).map { k =>
      val a = r.nextLong(1000000000L)
      reference(k) = (a, s"v$a")
      (k, a, s"v$a")
    }
    nextKey = Rows
    store.overwrite(Table, rows.toDF("k", "a", "s").repartition(4), primaryKeys = Seq("k"))
    versions(0) = refFingerprint
    // the incoming-batch size that write amplification is measured against
    val sample = ctx.dir("store_ingest/batch_sample").toString
    batch(0).toDF("k", "a", "s").coalesce(1).write.mode("overwrite").parquet(sample)
    batchBytes = Disk.bytes(Paths.get(sample))
    stageEvents()
  }

  /** Round `i`'s batch: Batch/2 distinct existing keys updated, Batch/2 new. */
  private def batch(i: Int): Seq[(Long, Long, String)] = {
    val r = rng(i)
    val updates = mutable.LinkedHashSet.empty[Long]
    while (updates.size < Batch / 2) updates += r.nextLong(nextKey)
    val inserts = (nextKey until nextKey + Batch / 2)
    (updates.toSeq ++ inserts).map { k =>
      val a = r.nextLong(1000000000L)
      (k, a, s"r$i-$a")
    }
  }

  /** `Triggers` single-file parquet batches of binned N(0,1) values, with
    * increasing modification times so the file source reads them in order. */
  private def stageEvents(): Unit = {
    eventDir = ctx.dir("store_ingest/events").toString
    val now = System.currentTimeMillis()
    (0 until Triggers).foreach { t =>
      val r = rng(100000 + t)
      val vs = (0 until EventsPerTrigger).map { j =>
        (t.toLong * EventsPerTrigger + j, math.rint(gauss(r) * 10) / 10)
      }
      val dir = s"$eventDir/part$t"
      vs.toDF("event_id", "v").coalesce(1).write.parquet(dir)
      Files.list(Paths.get(dir)).forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet")) {
          val moved = Paths.get(eventDir, f"b$t%03d.parquet")
          Files.move(f, moved)
          Files.setLastModifiedTime(moved,
            java.nio.file.attribute.FileTime.fromMillis(now - (Triggers - t) * 60000L))
        }
      }
      Disk.deleteTree(Paths.get(dir))
    }
  }

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(math.max(r.nextDouble(), 1e-12))) * math.cos(2 * math.Pi * r.nextDouble())

  private def round(i: Int): Unit = {
    val rows = batch(i + 1)
    val df = rows.toDF("k", "a", "s")
    ctx.op("store.upsert")(store.upsert(Table, df))
    rows.foreach { case (k, a, s) => reference(k) = (a, s) }
    nextKey += Batch / 2
    val v = versions.keys.max + 1
    versions(v) = refFingerprint
    ctx.gauge("store.upsert.write_amp",
      Disk.bytes(root.resolve(s"store/$Table/v=$v")).toDouble / batchBytes)

    val meta = ctx.op("store.meta")(store.meta(Table))
    ctx.check(meta.exists(_.version == v), s"meta reports ${meta.map(_.version)}, expected $v")

    val key = rng(-2 - i).nextLong(nextKey)
    val got = ctx.op("store.read") {
      store.read(Table).where(col("k") === key).select("a", "s").collect()
    }
    ctx.check(got.length == 1 && (got(0).getLong(0), got(0).getString(1)) == reference(key),
      s"point read of key $key returned ${got.mkString(",")}, expected ${reference(key)}")

    val old = ctx.op("store.read_version")(fingerprint(store.readVersion(Table, v - 1)))
    ctx.check(old == versions(v - 1), s"version ${v - 1} reads $old, committed ${versions(v - 1)}")

    if (i == 2) {
      // after a fixed number of commits, so the ratio is a deterministic count
      ctx.gauge("store.space_amp", Disk.bytes(root.resolve(s"store/$Table")).toDouble /
        Disk.bytes(root.resolve(s"store/$Table/v=$v")))
    }
  }

  private def streaming(): Unit = {
    val fin = fingerprint(store.read(Table))
    ctx.check(fin == refFingerprint, s"final table $fin differs from the reference $refFingerprint")

    val schema = spark.read.parquet(eventDir).schema
    val refCounts = ctx.pin(spark.read.parquet(eventDir).where(col("event_id") % 2 === 0)
      .groupBy(col("v").as("value")).agg(count(lit(1)).as("ref_count")), "ks_reference")
    var reports = 0
    val q: StreamingQuery = ctx.op("streaming.ks_gate") {
      val q = Streaming.incrementalKsGate(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(eventDir),
        "v", refCounts, store, "ks_counts", root.resolve("ks_checkpoint").toString,
        report => { reports += report.collect().length })
      q.awaitTermination()
      q
    }
    ctx.unpin("ks_reference")
    val triggers = q.recentProgress.filter(_.numInputRows > 0)
    triggers.foreach(p => ctx.gauge("streaming.trigger.ms",
      p.durationMs.get("triggerExecution").doubleValue))
    ctx.check(triggers.length == Triggers && reports == Triggers,
      s"${triggers.length} triggers and $reports reports for $Triggers files")
    val acc = store.read("ks_counts").select("value", "cur_count").as[(Double, Long)]
      .collect().toMap
    val batchCounts = spark.read.parquet(eventDir).groupBy("v").count().as[(Double, Long)]
      .collect().toMap
    ctx.check(acc == batchCounts, "KS gate counts differ from the batch recount")
    ctx.gauge("streaming.state_rows", acc.size)
  }

  /** Table ops the rounds do not use, on a table of their own. */
  private def probe(): Unit =
    (1 to 3).foreach { j =>
      val df = batch(-j).toDF("k", "a", "s")
      ctx.op("store.overwrite")(store.overwrite("probe_plain", df, primaryKeys = Seq("k")))
      ctx.op("store.append_files")(store.appendFiles("probe_plain", df))
      ctx.op("store.set_properties")(store.setProperties("probe_plain", Map("probe" -> j.toString)))
    }

  def named(): Seq[(String, Double, String)] = {
    def ms(op: String) = ctx.opSeconds.getOrElse(op, Nil).toSeq.map(_ * 1000)
    def p50(op: String) = Stats.median(ms(op))
    // a p90 is reported only with ten samples beyond it
    def p90(name: String, op: String) =
      Stats.percentile(ms(op), 0.9).map(v => (name, v, "ms")).toSeq
    val trig = ctx.gauges.getOrElse("streaming.trigger.ms", Nil).toSeq
    Seq(("upsert_p50_ms", p50("store.upsert"), "ms")) ++ p90("upsert_p90_ms", "store.upsert") ++
      Seq(("meta_p50_ms", p50("store.meta"), "ms"), ("read_p50_ms", p50("store.read"), "ms")) ++
      p90("read_p90_ms", "store.read") ++
      Seq(("time_travel_p50_ms", p50("store.read_version"), "ms"),
        ("trigger_p50_ms", Stats.median(trig), "ms"),
        ("rounds", ms("store.upsert").size.toDouble, "count"),
        ("triggers", trig.size.toDouble, "count"))
  }
}

