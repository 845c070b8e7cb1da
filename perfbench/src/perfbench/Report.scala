package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The result line on stdout, the per-run record and the span log. */
object Report {

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision number; non-finite values become 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private def metricsObj(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricsObj(metrics)))

  def write(out: Path, workload: String, seed: Long, seconds: Double, traced: Boolean,
            cpus: Int, tracer: Tracer, ctx: Ctx,
            e2e: Seq[(String, Double, String)], named: Seq[(String, Double, String)],
            layers: Seq[LayerMetric], iters: Seq[(Double, Boolean)],
            inputSetupS: Double, sessionS: Double): Unit = {
    val samples = ctx.opSeconds.toSeq.map { case (op, xs) =>
      op -> obj(Seq("n" -> xs.size.toString,
        "p50_ms" -> num(Stats.median(xs.toSeq) * 1000),
        "p90_ms" -> Stats.percentile(xs.toSeq, 0.9).fold("null")(v => num(v * 1000))))
    }
    val conf = ctx.spark.conf
    val session = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.files.maxPartitionBytes", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
      .map(k => k -> str(conf.getOption(k).getOrElse("")))
    val layerJson = layers.map { l =>
      l.name -> obj(Seq("value" -> num(l.value), "unit" -> str(l.unit),
        "moves" -> str(l.moves), "no_change_on" -> str(l.noChange)))
    }
    val json = obj(Seq(
      "run_id" -> str(tracer.runId),
      "workload" -> str(workload), "seed" -> seed.toString,
      "seconds" -> num(seconds), "trace" -> traced.toString, "cpus" -> cpus.toString,
      "session" -> obj(session),
      "setup" -> obj(Seq("session_s" -> num(sessionS),
        "input_setup_s" -> num(inputSetupS))),
      "iterations" -> obj(Seq(
        "seconds" -> iters.map(p => num(p._1)).mkString("[", ", ", "]"),
        "traced" -> iters.map(_._2.toString).mkString("[", ", ", "]"))),
      "end_to_end" -> metricsObj(e2e),
      "named" -> metricsObj(named),
      "ops" -> obj(samples),
      "attempted" -> ctx.attempted.toString, "failed" -> ctx.failed.toString,
      "failures" -> ctx.failures.map(str).mkString("[", ", ", "]"),
      "per_layer" -> obj(layerJson)))
    Files.createDirectories(out.getParent)
    Files.write(out, (json + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** One JSON line per span: name, start/end (ns, relative to the first
    * span), parent, self time and the Spark work attributed to it. */
  def writeSpans(out: Path, tracer: Tracer, listener: SpanListener): Unit = {
    val spans = tracer.spans
    if (spans.isEmpty) return
    val t0 = spans.map(_.startNs).min
    val children = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      // self time: duration minus the union of child intervals
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      val st = listener.bySpan.getOrElse(s.id, new SpanStats)
      obj(Seq("run_id" -> str(tracer.runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> str(s.name),
        "start_ns" -> (s.startNs - t0).toString, "end_ns" -> (s.endNs - t0).toString,
        "self_s" -> num((s.endNs - s.startNs - covered) / 1e9),
        "jobs" -> st.jobs.toString, "stages" -> st.stages.toString,
        "tasks" -> st.tasks.toString, "cpu_s" -> num(st.cpuNs / 1e9),
        "run_s" -> num(st.runMs / 1000.0), "gc_s" -> num(st.gcMs / 1000.0),
        "shuffle_read_bytes" -> st.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> st.shuffleWriteBytes.toString,
        "memory_spill_bytes" -> st.memSpillBytes.toString,
        "disk_spill_bytes" -> st.diskSpillBytes.toString,
        "input_records" -> st.inputRecords.toString,
        "output_records" -> st.outputRecords.toString,
        "max_task_ms" -> st.maxTaskMs.toString,
        "median_task_ms" -> num(st.medianTaskMs)))
    }
    val p = out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + "-spans.jsonl")
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
