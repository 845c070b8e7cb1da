package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload of the benchmark: a closed loop of iterations, each a
  * sequence of timed calls into graft's public API plus output checks.
  * `setup` generates and caches the inputs from the seed; `iterate` runs
  * one iteration; `probe` runs once after the loop in traced runs only
  * and calls single layers for the per-layer record. */
trait Workload {
  def setup(): Unit
  def iterate(i: Int): Unit
  def probe(): Unit = ()
  /** Unmeasured iterations before the measured loop (JIT warm-up). */
  def warmups: Int = 1
  /** The metrics named per workload in the benchmark doc, with units. */
  def named(): Seq[(String, Double, String)] = Nil
}

/** Run state shared by a workload and the loop: op timing, spans, checks. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val tracer: Tracer, val listener: SpanListener) {
  /** Seconds per op name, measured iterations only. */
  val opSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Free-form per-layer numbers a workload records (pair counts, amp). */
  val gauges = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var measuring = false
  var attempted = 0L
  var failed = 0L
  // per-iteration accumulators, reset by the loop
  var iterOpSeconds = 0.0
  var iterCpuSeconds = 0.0
  val pinnedAfterMb = mutable.ArrayBuffer.empty[Double]

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** One timed call into the program. Counted as attempted while
    * measuring; a throw propagates (the loop counts it as failed). */
  def op[T](name: String)(body: => T): T = {
    val c0 = cpuSeconds
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    iterOpSeconds += dt
    iterCpuSeconds += cpuSeconds - c0
    if (measuring) {
      attempted += 1
      opSeconds.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
    }
    if (tracer.enabled) pinnedAfterMb += pinnedMb
    r
  }

  /** Runs `body` with the span recorder on or off. The listener is
    * attached only while the recorder is on, so untraced work inside a
    * traced run measures the tracing overhead. */
  def traced[T](on: Boolean)(body: => T): T =
    if (on == tracer.enabled) body
    else {
      tracing(on)
      try body finally tracing(!on)
    }

  private def tracing(on: Boolean): Unit = {
    val sc = spark.sparkContext
    if (on) sc.addSparkListener(listener)
    else { Bus.drain(sc); sc.removeSparkListener(listener) }
    tracer.enabled = on
  }

  def gauge(name: String, v: Double): Unit =
    gauges.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** An output check: a failure fails the op it checks and the run. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      failures += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }

  /** Cache a frame under a name of the benchmark's own and materialize
    * it; [[pinnedMb]] leaves such frames out. */
  def pin(df: DataFrame, name: String): DataFrame = {
    df.createOrReplaceTempView(s"perfbench_$name")
    spark.catalog.cacheTable(s"perfbench_$name")
    val cached = spark.table(s"perfbench_$name")
    cached.count()
    cached
  }

  def unpin(name: String): Unit = spark.catalog.uncacheTable(s"perfbench_$name")

  /** Storage (memory + disk) still held by cached or checkpointed RDDs
    * other than the benchmark's own inputs. */
  def pinnedMb: Double =
    spark.sparkContext.getRDDStorageInfo.filterNot(_.name.contains("perfbench_"))
      .map(r => r.memSize + r.diskSize).sum / 1048576.0

  /** Execute a frame's own optimized plan, forcing every output column
    * (a bare count() lets Catalyst prune columns and joins). */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

object Main {

  /** Same session configuration as `graft.Bench`, on local[cpus] with
    * cpus = min(available processors, 4); all Spark scratch space stays
    * under the work directory. */
  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(argv: Array[String], key: String): String = {
    val i = argv.indexOf(key)
    require(i >= 0 && i + 1 < argv.length, s"missing $key")
    argv(i + 1)
  }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "--workload")
    val seed = arg(argv, "--seed").toLong
    val seconds = arg(argv, "--seconds").toDouble
    val traced = arg(argv, "--trace") == "1"
    val work = Paths.get(arg(argv, "--work")).toAbsolutePath
    val out = Paths.get(arg(argv, "--out")).toAbsolutePath
    val cpus = math.min(Runtime.getRuntime.availableProcessors(), 4)
    // hard stop well inside the per-run limit, whatever --seconds says
    val deadlineNs = System.nanoTime() + 120L * 1000000000L

    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    val spark = session(work, cpus)
    spark.range(1000000).selectExpr("sum(id)").collect() // codegen/JIT warm-up
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer(spark.sparkContext)
    val listener = new SpanListener
    val ctx = new Ctx(spark, work, seed, tracer, listener)
    val wl: Workload = workload match {
      case "feature_refresh" => new FeatureRefresh(ctx)
      case "text_curation" => new TextCuration(ctx)
      case other => sys.error(s"unknown workload: $other")
    }

    // set-up as a user pays it, once: session start plus the cold input set-up
    val setupT0 = System.nanoTime()
    wl.setup()
    val inputSetupS = (System.nanoTime() - setupT0) / 1e9
    val setupS = sessionS + inputSetupS
    phase("set up")

    val iterSeconds = mutable.ArrayBuffer.empty[(Double, Boolean)] // (s, traced)
    val iterCpu = mutable.ArrayBuffer.empty[Double]
    val iterSession = mutable.ArrayBuffer.empty[(Int, Int, Long)] // jobs, tasks, gcMs
    var aborted = false
    def runIteration(i: Int, trace: Boolean): Unit = {
      ctx.iterOpSeconds = 0.0
      ctx.iterCpuSeconds = 0.0
      val s0 = (listener.session.jobs, listener.session.tasks, listener.session.gcMs)
      try ctx.traced(trace)(tracer.span("bench.iteration")(wl.iterate(i)))
      catch {
        case NonFatal(e) =>
          ctx.attempted += 1
          ctx.failed += 1
          ctx.failures += s"iteration $i threw: $e"
          System.err.println(s"[perfbench] iteration $i threw: $e")
          e.printStackTrace()
          aborted = true
      }
      if (ctx.measuring && !aborted) {
        iterSeconds += ((ctx.iterOpSeconds, trace))
        iterCpu += ctx.iterCpuSeconds
        if (trace) {
          iterSession += ((listener.session.jobs - s0._1,
            listener.session.tasks - s0._2, listener.session.gcMs - s0._3))
        }
      }
    }

    (0 until wl.warmups).foreach(runIteration(_, trace = false))
    phase("warmed up")
    ctx.measuring = true
    val loopStart = System.nanoTime()
    var i = wl.warmups
    // closed loop: one caller, the next iteration starts when the last ends,
    // until `seconds` have passed and at least two iterations ran (their
    // median halves the weight of one slowed by the host); traced runs
    // alternate traced and untraced iterations so the tracing overhead is
    // measured inside one process. A workload measured cold (no warm-up)
    // has a single iteration, traced in a traced run.
    val (minIterations, maxIterations) = if (wl.warmups == 0) (1, 1) else (2, Int.MaxValue)
    while (!aborted && System.nanoTime() < deadlineNs && iterSeconds.size < maxIterations &&
      ((System.nanoTime() - loopStart) / 1e9 < seconds || iterSeconds.size < minIterations)) {
      runIteration(i, trace = traced && (i - wl.warmups) % 2 == 0)
      i += 1
    }
    phase(s"measured ${iterSeconds.size} iterations")
    if (!aborted) {
      if (traced) try ctx.traced(true)(wl.probe()) catch {
        case NonFatal(e) =>
          ctx.attempted += 1
          ctx.failed += 1
          ctx.failures += s"probe threw: $e"
          e.printStackTrace()
      }
    }
    ctx.measuring = false
    phase("finished")

    val rssMb = Proc.peakRssMb()
    // a traced run's end-to-end numbers come from its untraced iterations,
    // if it has any
    val plainIters = iterSeconds.filterNot(_._2).map(_._1).toSeq
    val e2eIters = if (plainIters.nonEmpty) plainIters else iterSeconds.map(_._1).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("iteration_s", Stats.median(e2eIters), "s"),
      ("cpu_s", Stats.median(iterCpu.toSeq), "s"))
    val named = Seq(("setup_s", setupS, "s"), ("cpu_s", Stats.median(iterCpu.toSeq), "s"),
      ("rss_peak_mb", rssMb, "MB"),
      ("failed_op_share", if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted,
        "ratio")) ++ wl.named()
    val layers =
      if (traced) Layers.compute(ctx, tracer, listener,
        iterSeconds.toSeq, iterSession.toSeq, rssMb)
      else Nil

    val correct = !aborted && ctx.failed == 0 && ctx.attempted > 0
    val attempted = math.max(ctx.attempted, 1L)
    val failedN = math.min(ctx.failed, attempted)
    val metrics = if (traced) layers.map(l => (l.name, l.value, l.unit)) else e2e
    Report.write(out, workload, seed, seconds, traced, cpus, tracer, ctx,
      e2e, named, layers, iterSeconds.toSeq, inputSetupS, sessionS)
    if (traced) Report.writeSpans(out, tracer, listener)
    System.err.println("[perfbench] named metrics: " + named.map { case (n, v, u) =>
      f"$n=$v%.4f $u" }.mkString(", "))
    println(Report.resultLine(correct, attempted, failedN, metrics))
    System.out.flush()
    spark.stop()
    if (!correct) System.exit(1)
  }
}

object Proc {
  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else new String(Files.readAllBytes(status), StandardCharsets.UTF_8)
      .split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }
}

/** File-tree helpers for the work directory. */
object Disk {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Bytes of the regular files under `p`. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
}
