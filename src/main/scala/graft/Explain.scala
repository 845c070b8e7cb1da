package graft

/** Plan inspection tool: prints the formatted physical plan for the named
  * queries (or a default set of scale-critical ones). Usage:
  *   runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_a1_grouped_agg", "q_s1_ingest_scan", "q_j1_scaffold",
        "q_j3_pit_join", "q_w4_rolling_stats", "q_pipeline_monthly",
        "q_dedup_minhash_pairs", "q_dedup_ngram_jaccard", "q_j9_range_join",
        "q_cluster_assign", "q_sem_dedup", "q_text_inverted",
        "q_fs_training_set", "q_feat_corr",
        "q_er_fuzzy_join", "q_sim_ivfadc_topk", "q_sketch_hll_union")
    val spark = graft.obs.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_EXPLAIN_DIR: also write each plan to <dir>/<name>.txt —
    // the round's plans/ evidence files, without pane-scraping sbt output.
    // A MANIFEST.txt records when and for which names this run wrote, so
    // stale files from renamed/removed queries are distinguishable from
    // fresh evidence (r15 advice).
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    outDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "MANIFEST.txt"),
        s"${java.time.Instant.now()} sfDir=$sfDir names=${names.mkString(",")}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(plan)
      outDir.foreach { d =>
        java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$n.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.stop()
  }
}
