package graft

/** Benchmark main: every SparkEntry query on SPARK_GRAFT_SF_DIR plus the
  * five banking feature pipelines at the reference's data scale
  * (10k customers × 24 months, `dummy_data_generation.py:29-30`). Prints
  * ONE JSON line: {"metric":"total","value":N,"unit":"sec","queries":{...}}.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.obs.GraftSession.local()
    // JVM/codegen + parquet-reader warmup so the first measured query
    // doesn't absorb one-time class-loading cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // Best-of-2: a single-shot measurement occasionally absorbs a full-GC /
    // JIT-deopt pause (observed once as a 14× outlier on an otherwise ~1 s
    // pipeline); the min of two runs measures the operator, not the JVM.
    def time(fn: => Long): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        // NonFatal only: an OOM/StackOverflow leaves the JVM corrupted —
        // swallowing it would silently distort every later measurement
        // (r11 advice); let fatal errors abort the bench run.
        // e.toString, not getMessage: NPE and friends carry a null message
        // and an unattributable "failed: null" costs a diagnosis round-trip
        try fn catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] failed: $e"); -1L }
        (System.nanoTime() - t0) / 1e9
      }
      val a = once(); val b = once()
      // Variance guard (r11 verdict #8): this box swings ~4× under load
      // (q_j10_salted_join observed 3.7–28 s across runs). When the two
      // runs disagree >2×, the slow one was load/GC, not the plan — take
      // a third and report the per-entry MIN of all three.
      if (math.min(a, b) > 0 && math.max(a, b) > 2 * math.min(a, b))
        math.min(math.min(a, b), once())
      else math.min(a, b)
    }
    // HONEST materialization: executing the entry's own optimized plan
    // (`toRdd`) forces every output column. A bare `.count()` lets
    // Catalyst prune columns and ELIMINATE distinct-keyed left joins —
    // measured r11: q_dsir_score under count() skipped the entire scoring
    // join and anchored at 0.5 s while the real scorer cost ~8 s, so the
    // "warm sibling" 2×-contract comparisons were comparing against a
    // query that never ran its operator.
    def materialize(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    // Optional entry filter (comma-separated regexes) for targeted runs —
    // e.g. a scaling check on a handful of new entries shouldn't pay a
    // full-suite sf1 sweep. Unset = the full catalog (driver behavior).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim.r).toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(_.findFirstIn(name).isDefined))

    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }

    // Untimed warmup sweep over the whole selected catalog BEFORE any
    // timing. Best-of-2 alone does not warm an entry: C2/codegen
    // compilation of a topology's hot methods runs in BACKGROUND threads,
    // so two back-to-back executions of the alphabetically-first entry of
    // a family both run largely interpreted (r8–r10: q_dsir_resample
    // anchored ~4.5 s while its warm sibling q_dsir_score ran 0.2–0.3 s on
    // the same scan/bucket/broadcast shape). A full untimed pass puts ~the
    // whole sweep's wall-clock between an entry's warmup and its timed
    // runs, so anchors measure plan cost, not JIT. SPARK_GRAFT_WARMUP=0
    // skips it for quick targeted iteration.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    if (warmup) catalog.foreach { case (name, fn) =>
      // failures here must be ATTRIBUTABLE (r12: an ENOSPC spill during a
      // silent warmup catch cost a diagnosis round-trip) — name them, but
      // keep going; the timed run reports the entry's real status
      try materialize(fn(spark, sfDir))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup failed: $name: $e") }
    }

    val queryTimes = catalog.map { case (name, fn) =>
        System.err.println(s"[bench] timing: $name")
        name -> time(materialize(fn(spark, sfDir)))
      }

    // the five pipelines over reference-scale generated banking data;
    // cache + materialize the generated sources OUTSIDE the timed region —
    // otherwise each pipeline's time is charged for re-running the
    // generator (round-2 bench showed pipe_transactions at 2.7× baseline
    // purely from uncached datagen recomputation)
    val pipelineNames = Seq("pipe_transactions", "pipe_credit_risk",
      "pipe_payment_behavior", "pipe_holding_products", "pipe_demographic")
    // SPARK_GRAFT_BANK_N scales the generated banking corpus (default =
    // the reference's 10k×24m shape) so the five pipelines can be put on
    // the same scaling table as the query entries (r11 verdict #7:
    // pipe_* had only ever been measured at reference scale).
    val bankN = sys.env.get("SPARK_GRAFT_BANK_N").map(_.toInt)
      .getOrElse(graft.datagen.BankingDataGen.DefaultCustomers)
    val sources = if (pipelineNames.exists(selected))
      graft.datagen.BankingDataGen.all(spark, bankN)
        .map { case (k, df) => k -> df.cache() }
    else Map.empty[String, org.apache.spark.sql.DataFrame]
    sources.values.foreach(_.count())
    val pipelineTimesSrc = Seq(
      "pipe_transactions" -> (() => graft.pipelines.Pipelines.transactions(sources("transacciones"))),
      "pipe_credit_risk" -> (() => graft.pipelines.Pipelines.creditRisk(sources("buro_credito"))),
      "pipe_payment_behavior" -> (() => graft.pipelines.Pipelines.paymentBehavior(sources("pagos"))),
      "pipe_holding_products" -> (() => graft.pipelines.Pipelines.holdingProducts(sources("productos"))),
      "pipe_demographic" -> (() => graft.pipelines.Pipelines.demographic(
        sources("clientes"), "2023-01-01", graft.datagen.BankingDataGen.AnchorMonth)),
    ).filter { case (name, _) => selected(name) }
    if (warmup) pipelineTimesSrc.foreach { case (_, mk) =>
      try materialize(mk()) catch { case scala.util.control.NonFatal(_) => () }
    }
    val pipelineTimes = pipelineTimesSrc
      .map { case (name, mk) => name -> time(materialize(mk())) }

    val results = (queryTimes ++ pipelineTimes).sortBy(-_._2)
    val total = results.map(_._2).sum
    def entriesJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    // full artifact to disk — the complete per-entry map, readable without
    // tail-scraping
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_entries":${results.size},"queries":${entriesJson(results)},"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
    // stdout line stays COMPACT (total + the 25 slowest entries): the
    // driver's log tail truncates at ~2000 chars, and a full 170-entry map
    // overflows that and defeats the driver's JSON parse entirely (r9's
    // BENCH artifact has parsed:null). Short line → the driver parses it;
    // the complete map lives in the artifact above.
    val top = results.take(25)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_entries":${results.size},"queries":${entriesJson(top)},"sf":"$sfDir","full_artifact":"$outPath"}""")
    spark.stop()
  }
}
