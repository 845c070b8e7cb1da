package graft.obs

import org.apache.spark.sql.SparkSession

/** The one session builder for graft's local mains (Bench, Verify,
  * Explain, Demo and the `datagen` measurement mains), so every one of
  * them runs the configuration the catalog is benchmarked under. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** A `local[cpus]` session with the bench settings, logging at WARN. */
  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // shuffle partitions default to the core count; at the larger
      // scale factors (sf1/sf10 scaling runs) override so a partition's
      // shuffle-hash build side still fits executor memory — the same
      // partitions-vs-memory sizing a 1000-executor cluster does
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // split single-file scans: the testdata tables are one parquet file
      // each, and the default 128m maxPartitionBytes puts every CPU-bound
      // text kernel on ONE core — smaller splits restore the multi-split
      // parallelism a real many-file 100 TB layout gets for free
      // (env-tunable for A/B runs)
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "4m"))
      // AQE coalescing floor, env-tunable for A/B runs. MEASURED r15 and
      // left at the Spark default: 64k re-spread the ~1.8 MB stat-table
      // shuffles (q_stat_lorenz 2.5 -> 1.7 s) but DOUBLED the iterative
      // join family back-to-back on a quiet box (q_graph_pagerank
      // 3.3 -> 6.3 s, q_graph_degree 1.3 -> 2.2 s) — many-stage queries
      // pay per-task scheduling on every tiny exchange. Net across the
      // suite: negative; the stat entries were instead fixed structurally
      // (Scale.orderedBuckets).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PART_SIZE", "1m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
