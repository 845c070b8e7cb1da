package perfbench

import scala.collection.mutable

/** One per-layer number of a traced run, with the end-to-end metric it
  * should move (`moves`, as `metric / workload`) and the workloads on
  * which it predicts no change. */
final case class LayerMetric(name: String, value: Double, unit: String,
                             moves: String, noChange: String)

/** The per-layer record: every metric is computed on every workload, and
  * reads 0 where the workload never calls that layer. */
object Layers {

  val PipelineNames = Seq("demographic", "credit_risk", "holding_products",
    "payment_behavior", "transactions")
  /** Store ops of the store leg (overwrite ... set_properties), of
    * feature_refresh's probe (save) and of its iteration (fs_*: the reads
    * of one feature table that are part of `iteration_s`). */
  val StoreOps = Seq("overwrite", "upsert", "append_files", "read", "read_version",
    "meta", "set_properties", "save", "fs_meta", "fs_read", "fs_read_version")
  val TextSteps = Seq("gopher", "exact", "minhash", "containment", "simhash", "clusters")
  val Kernels = Seq("tokens", "ngram_hashes", "minhash", "simhash", "winnow_hashes",
    "repetition_stats")

  private val FR = "feature_refresh"
  private val TC = "text_curation"

  def compute(ctx: Ctx, tracer: Tracer, listener: SpanListener,
              iters: Seq[(Double, Boolean)],
              iterSession: Seq[(Int, Int, Long)], rssMb: Double): Seq[LayerMetric] = {
    val spans = tracer.spans
    val children = spans.groupBy(_.parent)
    // a span's stats include its descendants' (jobs run in the innermost span)
    val inclusive = mutable.HashMap.empty[Int, SpanStats]
    def incl(s: Span): SpanStats = inclusive.getOrElseUpdate(s.id, {
      val acc = new SpanStats
      def add(st: SpanStats): Unit = {
        acc.jobs += st.jobs; acc.stages += st.stages; acc.tasks += st.tasks
        acc.cpuNs += st.cpuNs; acc.runMs += st.runMs; acc.gcMs += st.gcMs
        acc.shuffleReadBytes += st.shuffleReadBytes
        acc.shuffleWriteBytes += st.shuffleWriteBytes
        acc.memSpillBytes += st.memSpillBytes; acc.diskSpillBytes += st.diskSpillBytes
        acc.inputRecords += st.inputRecords; acc.outputRecords += st.outputRecords
        acc.taskMs ++= st.taskMs
      }
      listener.bySpan.get(s.id).foreach(add)
      children.getOrElse(s.id, Nil).foreach(c => add(incl(c)))
      acc
    })
    def named(n: String): Seq[Span] = spans.filter(_.name == n)
    def med(n: String)(f: Span => Double): Double = Stats.median(named(n).map(f))
    def secs(n: String): Double = med(n)(_.seconds)
    def ms(n: String): Double = secs(n) * 1000
    def jobs(n: String): Double = med(n)(s => incl(s).jobs.toDouble)
    val mb = 1048576.0
    def shuffleMb(st: SpanStats): Double = st.shuffleWriteBytes / mb
    def spillMb(st: SpanStats): Double = (st.memSpillBytes + st.diskSpillBytes) / mb
    def gauge(n: String): Double = Stats.median(ctx.gauges.getOrElse(n, Nil).toSeq)

    val out = mutable.ArrayBuffer.empty[LayerMetric]
    def m(name: String, v: Double, unit: String, moves: String, noChange: String): Unit =
      out += LayerMetric(name, if (v.isNaN || v.isInfinite) 0.0 else v, unit, moves, noChange)

    // pipelines: one probe pass of the five pipelines, plus the Runner calls
    val pipeMoves = s"iteration_s (backfill_s, refresh_s) / $FR"
    val pipeNo = TC
    PipelineNames.foreach(p => m(s"pipelines.$p.s", secs(s"pipelines.$p"), "s", pipeMoves, pipeNo))
    val pipeStats = PipelineNames.flatMap(p => named(s"pipelines.$p")).map(incl)
    m("pipelines.task_cpu_s", pipeStats.map(_.cpuNs).sum / 1e9, "s", pipeMoves, pipeNo)
    m("pipelines.jobs", pipeStats.map(_.jobs).sum.toDouble, "count", pipeMoves, pipeNo)
    m("pipelines.shuffle_mb", pipeStats.map(shuffleMb).sum, "MB", pipeMoves, pipeNo)
    m("pipelines.spill_mb", pipeStats.map(spillMb).sum, "MB", pipeMoves, pipeNo)
    m("pipelines.max_task_skew",
      (pipeStats.filter(_.taskMs.nonEmpty).map(st =>
        st.maxTaskMs / math.max(st.medianTaskMs, 1.0)) :+ 0.0).max, "ratio", pipeMoves, pipeNo)
    Seq("backfill", "refresh").foreach { r =>
      m(s"pipelines.$r.s", secs(s"pipelines.$r"), "s", s"iteration_s (${r}_s) / $FR", pipeNo)
      m(s"pipelines.$r.jobs", jobs(s"pipelines.$r"), "count", s"iteration_s (${r}_s) / $FR", pipeNo)
    }

    val valMoves = s"iteration_s (refresh_s) / $FR"
    m("validate.cross_check.s", secs("validate.cross_check"), "s", valMoves, TC)
    m("validate.cross_check.jobs", jobs("validate.cross_check"), "count", valMoves, TC)

    val legMoves = "upsert_p50_ms, read_p50_ms, meta_p50_ms, time_travel_p50_ms " +
      s"(recorded, not gated) / $FR store leg"
    def storeMoves(op: String): String = op match {
      case "save" => s"iteration_s (refresh_s) / $FR"
      case "fs_meta" | "fs_read" | "fs_read_version" =>
        s"iteration_s (meta_s, point_read_s, time_travel_s) / $FR"
      case _ => legMoves
    }
    StoreOps.foreach { op =>
      m(s"store.$op.ms", ms(s"store.$op"), "ms", storeMoves(op), TC)
      m(s"store.$op.jobs", jobs(s"store.$op"), "count", storeMoves(op), TC)
    }
    m("store.upsert.write_amp", gauge("store.upsert.write_amp"), "ratio", legMoves, TC)
    m("store.space_amp", gauge("store.space_amp"), "ratio", legMoves, TC)
    m("registry.register.ms", ms("registry.register"), "ms", storeMoves("save"), TC)

    val featMoves = s"iteration_s (training_set_s, serving_lookup_s) / $FR"
    val tsStats = named("features.training_set").map(incl)
    m("features.training_set.s", secs("features.training_set"), "s", featMoves, TC)
    m("features.training_set.jobs", jobs("features.training_set"), "count", featMoves, TC)
    m("features.training_set.shuffle_mb", Stats.median(tsStats.map(shuffleMb)), "MB",
      featMoves, TC)
    m("features.serving_lookup.s", secs("features.serving_lookup"), "s", featMoves, TC)

    val textMoves = s"iteration_s (curation pass) / $TC"
    val textNo = FR
    TextSteps.foreach { st =>
      val ss = named(s"text.$st").map(incl)
      m(s"text.$st.s", secs(s"text.$st"), "s", textMoves, textNo)
      m(s"text.$st.task_cpu_s", Stats.median(ss.map(_.cpuNs / 1e9)), "s", textMoves, textNo)
      m(s"text.$st.shuffle_mb", Stats.median(ss.map(shuffleMb)), "MB", textMoves, textNo)
      m(s"text.$st.spill_mb", Stats.median(ss.map(spillMb)), "MB", textMoves, textNo)
    }
    Seq("text.minhash.candidates", "text.minhash.pairs", "text.containment.pairs",
      "text.simhash.pairs", "text.clusters.count").foreach { g =>
      m(g, gauge(g), "count", textMoves, textNo)
    }

    Kernels.foreach { k =>
      m(s"functions.$k.rows_per_s", gauge(s"functions.$k.rows_per_s"), "1/s", textMoves, textNo)
    }

    // the KS gate runs only in the store leg of traced feature_refresh runs
    val streamMoves = s"trigger_p50_ms (recorded, not gated) / $FR"
    val triggers = ctx.gauges.get("streaming.trigger.ms").fold(0)(_.size)
    m("streaming.trigger.ms", gauge("streaming.trigger.ms"), "ms", streamMoves, TC)
    m("streaming.jobs", if (triggers == 0) 0.0
      else named("streaming.ks_gate").map(incl(_).jobs).sum.toDouble / triggers,
      "count", streamMoves, TC)
    m("streaming.state_rows", gauge("streaming.state_rows"), "count", streamMoves, TC)

    val sparkMoves = s"spark.rss_peak_mb, cpu_s and iteration_s / $FR, $TC"
    m("spark.jobs", Stats.median(iterSession.map(_._1.toDouble)), "count", sparkMoves, "-")
    m("spark.tasks", Stats.median(iterSession.map(_._2.toDouble)), "count", sparkMoves, "-")
    m("spark.gc_s", Stats.median(iterSession.map(_._3 / 1000.0)), "s", sparkMoves, "-")
    m("spark.pinned_mb_after", if (ctx.pinnedAfterMb.isEmpty) 0.0 else ctx.pinnedAfterMb.max,
      "MB", sparkMoves, "-")
    m("spark.rss_peak_mb", rssMb, "MB", s"cpu_s / $FR, $TC", "-")

    // traced against untraced iterations of this run; a workload measured
    // by one (traced) iteration compares its store leg's alternating rounds
    val tracedIt = iters.filter(_._2).map(_._1)
    val plainIt = iters.filterNot(_._2).map(_._1)
    val (tracedS, plainS) =
      if (plainIt.nonEmpty) (tracedIt, plainIt)
      else (ctx.gauges.getOrElse("trace.round_s.traced", Nil).toSeq,
        ctx.gauges.getOrElse("trace.round_s.plain", Nil).toSeq)
    // (not finite, so reported as 0, only when the run failed before
    // measuring both kinds)
    m("trace.overhead_share", Stats.median(tracedS) / Stats.median(plainS) - 1.0,
      "ratio", "-", "-")
    m("trace.spans", spans.size.toDouble, "count", "-", "-")
    out.toSeq
  }
}
