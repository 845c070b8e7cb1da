package graft

/** Executable end-to-end showcase of the feature-store flow:
  * seeded banking datagen → the five pipelines (reference DAG order) →
  * validation → versioned TableStore persistence with registration →
  * incremental rerun (idempotent upsert) → time-travel read.
  *
  * Usage: runMain graft.Demo [storeDir] [nCustomers]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val storeDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_demo").toString)
    val n = args.lift(1).map(_.toInt).getOrElse(1000)
    val spark = graft.obs.GraftSession.local()

    val store = new graft.store.TableStore(spark, storeDir)
    val sources = graft.datagen.BankingDataGen.all(spark, n)
    val today = java.time.LocalDate.parse("2024-07-15")

    println(s"== initial run (n=$n customers, store=$storeDir)")
    val r1 = graft.pipelines.Runner.run(spark, sources, store,
      graft.pipelines.Runner.Params(startDate = "2023-01-01"), today)
    r1.foreach(r => println(f"  ${r.table}%-28s v${r.version} rows=${r.rows}%-8d validated=${r.validationPassed}"))

    println("== incremental rerun (idempotent upsert by PK)")
    val r2 = graft.pipelines.Runner.run(spark, sources, store,
      graft.pipelines.Runner.Params(startDate = "2023-01-01"), today)
    r2.foreach(r => println(f"  ${r.table}%-28s v${r.version} rows=${r.rows}%-8d (unchanged=${
      r1.find(_.table == r.table).exists(_.rows == r.rows)})"))

    val t = "fs_cus_transactions"
    println(s"== time travel: $t v0 vs v${store.currentVersion(t)}")
    println(s"  v0 rows: ${store.readVersion(t, 0).count()}")
    println(s"  head of current version:")
    store.read(t).orderBy("pk_customer", "tpk_release_dt").show(5, truncate = false)
    val meta = store.meta(t).get
    println(s"  registered PKs=${meta.primaryKeys.mkString(",")} tsKeys=${meta.timestampKeys.mkString(",")}")

    // ---- training-data extensions over the documents corpus ----
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(docsPath))) {
      import org.apache.spark.sql.functions._
      println("== training-data pipeline (documents): quality -> langid -> dedup -> split")
      val docs = spark.read.parquet(docsPath)
      val scored = docs.select(col("doc_id"), col("text"), col("source"),
        graft.text.TextStats.langId(col("text")).as("lang_pred"),
        graft.text.TextStats.qualityScore(col("text")).as("quality"))
      val kept = scored.where(col("quality") >= 0.3 && col("lang_pred") =!= "unknown")
      val deduped = graft.text.Dedup.minhashLsh(kept, "text", "doc_id")
      val (train, eval_) = graft.ops.Filters.hashSplit(deduped, Seq("doc_id"), 0.9)
      println(f"  corpus=${docs.count()} kept=${kept.count()} deduped=${deduped.count()} " +
        f"train=${train.count()} eval=${eval_.count()}")
      println("== sessionization of the event stream (30-min gap)")
      val evRaw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      // nanos-long (legacy testdata) or tz-naive micros (current) → UTC instant
      val ev = evRaw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          evRaw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          evRaw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => evRaw
      }
      graft.ops.Windows.sessionize(ev, "user_id", "ts",
          gapMicros = 30L * 60 * 1000000, tiebreak = Seq("event_id"))
        .groupBy("user_id").agg(max("session_seq").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(desc("n_sessions")).show(5)

      println("== training-set assembly: stacked point-in-time lookups onto event labels")
      val labels = ev.select(col("event_id"), col("user_id"),
        col("ts").cast("date").as("label_date"), col("event_type"))
        .where(col("event_id") < 50)
      val dailySpend = ev.groupBy(col("user_id"),
          col("ts").cast("date").as("snap_date"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("spend"))
      graft.features.TrainingSet.build(labels, "label_date", Seq(
          graft.features.FeatureLookup(dailySpend, Seq("user_id"), "snap_date", prefix = "d_")))
        .orderBy("event_id").show(5)

      println("== drift monitor: per-day PSI of the value distribution vs a uniform baseline")
      graft.streaming.Streaming.driftMonitor(ev, Seq.fill(10)(0.1),
          "value", lo = 0.0, width = 50.0, window_ = "1 day")
        .orderBy(desc("psi")).show(5)

      println("== data-quality profile + quarantine of the event stream")
      graft.validate.Validation.profile(ev,
        Seq("event_id", "event_type", "value")).show(truncate = false)
      val (ok, rejected) = graft.validate.Validation.quarantine(ev, Seq(
        "value_positive" -> (col("value") > 0),
        "type_known" -> col("event_type").isin("click", "view", "purchase", "signup", "error")))
      println(s"  valid=${ok.count()} quarantined=${rejected.count()}")

      println("== approximate heavy hitters (native SpaceSaving aggregate)")
      graft.ops.Sketches.topKApprox(ev, Seq("event_type"), "user_id",
          k = 3, capacity = 64)
        .orderBy("event_type", "rank").show(15)

      println("== leakage audit of the assembled training set")
      val ts = graft.features.TrainingSet.build(labels, "label_date", Seq(
        graft.features.FeatureLookup(dailySpend, Seq("user_id"), "snap_date", prefix = "d_")))
      graft.validate.Validation.leakageCheck(ts, "label_date", Seq("d_snap_date")).show()

      println("== fuzzy entity match: corrupted customer names re-linked to the master dim")
      val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .select(col("c_custkey"), col("c_name"))
      val dirty = cust.where(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("d_key"),
          concat(substring(col("c_name"), 1, 9), substring(col("c_name"), 11, 8)).as("d_name"))
      graft.text.Fuzzy.fuzzyJoinBlocked(dirty, "d_name", cust, "c_name", maxDist = 1)
        .where(col("d_key") === col("c_custkey"))
        .select("d_key", "d_name", "c_name", "lev_dist").orderBy("d_key").show(5)

      println("== batch serving view: freshest per-user spend with a 7-day staleness TTL")
      graft.features.TrainingSet.servingLookup(dailySpend, Seq("user_id"),
          "snap_date", asOf = "2024-01-30", maxStalenessDays = 7, prefix = "srv_")
        .orderBy("user_id").show(5)

      println("== dynamic partition overwrite + CDC diff on a date-partitioned table")
      val byDay = ev.select(col("event_id"), col("ts").cast("date").as("day"), col("value"))
        .where(col("day").between("2024-01-01", "2024-01-03"))
      store.overwrite("events_daily", byDay, primaryKeys = Seq("event_id"),
        partitionBy = Seq("day"))
      store.replacePartitions("events_daily",
        byDay.where(col("day") === "2024-01-02")
          .withColumn("value", col("value") * 2))
      val changes = store.diffVersions("events_daily", 0, 1)
      changes.groupBy("__change").count().show()
    }
    spark.stop()
  }
}
