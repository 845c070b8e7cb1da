package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.datagen.BankingDataGen
import graft.pipelines.Runner
import graft.store.{FeatureRegistry, TableStore}
import graft.validate.Validation

class ValidationRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("privacy: k-anonymity/l-diversity verdicts and suppression, hand-computed") {
    import graft.validate.Privacy
    import org.apache.spark.sql.functions.col
    // QI (city): a=3 rows / 2 sensitive values, b=2 rows / 2 values,
    // c=1 row / 1 value (null sensitive excluded from the distinct count)
    val df = Seq(
      ("a", Some(10)), ("a", Some(10)), ("a", Some(20)),
      ("b", Some(30)), ("b", None),
      ("c", Some(40))).toDF("city", "income")
    val rep = Privacy.riskReport(df, Seq("city"), "income", k = 2, l = 2)
      .orderBy("city")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4))).toSeq
    assert(rep == Seq(
      ("a", 3L, 2L, true, true),
      ("b", 2L, 1L, true, false), // null income doesn't count toward l
      ("c", 1L, 1L, false, false)))
    val kept = Privacy.suppressSmallGroups(df, Seq("city"), k = 2)
      .select("city").as[String].collect().sorted.toSeq
    assert(kept == Seq("a", "a", "a", "b", "b")) // c suppressed
    // suppression keeps the input schema untouched
    assert(Privacy.suppressSmallGroups(df, Seq("city"), k = 2).columns.toSeq
      == df.columns.toSeq)
  }

  test("crossCheckHistorical flags diverging months, passes equal ones") {
    val src = Seq(("2024-01-01", 1), ("2024-01-01", 2), ("2024-02-01", 3)).toDF("d", "x")
    val tgtSame = src
    assert(Validation.crossCheckHistorical(src, tgtSame, "d", "d").isEmpty)
    val tgtShrunk = Seq(("2024-01-01", 1), ("2024-02-01", 3), ("2024-03-01", 4)).toDF("d", "x")
    val mismatches = Validation.crossCheckHistorical(src, tgtShrunk, "d", "d")
    assert(mismatches.map(_.monthDt) == Seq("2024-01-01", "2024-03-01"))
    assert(mismatches.head.sourceCnt == 2 && mismatches.head.targetCnt == 1)
  }

  /** The outer-join formulation of the historical cross-check, kept as the
    * reference for the one-pass aggregation: one count per side, a full
    * outer join on month, zero-filled, divergent months in month order. */
  private def outerJoinCrossCheck(source: DataFrame, target: DataFrame,
                                  sourceDate: String, targetDate: String)
      : Seq[Validation.CountMismatch] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val s = source.groupBy(col(sourceDate).cast("date").as("month_dt"))
      .agg(count(lit(1)).as("source_cnt"))
    val t = target.groupBy(col(targetDate).cast("date").as("month_dt"))
      .agg(count(lit(1)).as("target_cnt"))
    s.join(t, Seq("month_dt"), "outer").na.fill(0)
      .where(col("source_cnt") =!= col("target_cnt"))
      .orderBy("month_dt")
      .collect()
      .map(r => Validation.CountMismatch(String.valueOf(r.getAs[java.sql.Date]("month_dt")),
        r.getAs[Long]("source_cnt"), r.getAs[Long]("target_cnt"))).toSeq
  }

  test("crossCheckHistorical equals the outer-join formulation, null months included") {
    import org.apache.spark.sql.functions.{col, lit}
    def side(months: Option[String]*): DataFrame =
      months.zipWithIndex.toDF("d", "x").select(col("d").cast("timestamp").as("d"), col("x"))
    val jan = Some("2024-01-01 00:00:00")
    val feb = Some("2024-02-01 00:00:00")
    val mar = Some("2024-03-01 00:00:00")
    val dec = Some("2023-12-01 00:00:00")
    val base = side(jan, jan, feb, mar, mar, mar)
    val cases = Seq(
      "equal sides" -> (base, base),
      "diverging sides" -> (base, side(jan, feb, feb, mar)),
      "month only in the source" -> (side(dec, jan, feb), side(jan, feb)),
      "month only in the target" -> (side(jan), side(dec, jan, mar)),
      "empty source" -> (base.where(lit(false)), base),
      "empty target" -> (base, base.where(lit(false))),
      "null months in the source" -> (side(None, None, jan), side(jan)),
      "null months in the target" -> (side(jan), side(jan, None)),
      "null months on both sides, equal counts" -> (side(None, jan), side(None, jan)),
      "null months on both sides" -> (side(None, None, feb, dec), side(None, mar, feb)),
      "months out of order" -> (side(mar, dec, jan, feb, mar), side(feb, jan, jan, dec)))
    cases.foreach { case (name, (src, tgt)) =>
      val got = Validation.crossCheckHistorical(src, tgt, "d", "d")
      // the outer join keeps each side's null month apart and sorts them
      // first; between the two it has no order, the one-pass form puts
      // the source's first
      val (nulls, dated) = outerJoinCrossCheck(src, tgt, "d", "d").partition(_.monthDt == "null")
      assert(got == nulls.sortBy(_.sourceCnt == 0) ++ dated, name)
      val months = got.map(_.monthDt).filter(_ != "null")
      assert(months == months.sorted, s"$name: not ascending")
      assert(got.dropWhile(_.monthDt == "null").forall(_.monthDt != "null"), name)
    }
    assert(Validation.crossCheckHistorical(base, base, "d", "d").isEmpty)
    assert(Validation.crossCheckHistorical(side(None, jan), side(None, jan), "d", "d") == Seq(
      Validation.CountMismatch("null", 1, 0), Validation.CountMismatch("null", 0, 1)))
  }

  test("schemasValidation: one-projection cast/rename incl. yyyy-mm-qq repair") {
    import graft.validate.Schemas
    import Schemas.{FieldSpec, SchemaConfig}
    val raw = Seq(
      ("1", "2024-03-q1", "10.5", "drop_me"),
      ("2", "2024-03-q2", "20.25", "drop_me too")).toDF("id_raw", "dt_raw", "amt_raw", "extra")
    val out = Schemas.schemasValidation(raw, SchemaConfig(Seq(
      "id_raw" -> FieldSpec("id", "bigint"),
      "dt_raw" -> FieldSpec("event_dt", "DATE", Some("yyyy-mm-qq")),
      "amt_raw" -> FieldSpec("amount", "double"))))
    // exactly the configured columns, in config order; unconfigured dropped
    assert(out.columns.toSeq == Seq("id", "event_dt", "amount"))
    assert(out.schema("id").dataType.typeName == "long")
    assert(out.schema("event_dt").dataType.typeName == "date")
    assert(out.schema("amount").dataType.typeName == "double")
    val rows = out.orderBy("id").collect()
    assert(rows(0).getDate(1).toString == "2024-03-01")   // q1 -> day 01
    assert(rows(1).getDate(1).toString == "2024-03-16")   // q2 -> day 16
    assert(rows(1).getDouble(2) == 20.25)
    // plain DATE format branch (schemas.py:52-53)
    val plain = Schemas.schemasValidation(raw, SchemaConfig(Seq(
      "id_raw" -> FieldSpec("id", "int"))))
    assert(plain.schema("id").dataType.typeName == "integer")
    // error contracts (schemas.py:36-43)
    val eMissing = intercept[IllegalArgumentException] {
      Schemas.schemasValidation(raw, SchemaConfig(Seq("id_raw" -> FieldSpec("", "bigint"))))
    }
    assert(eMissing.getMessage.contains("id_raw"))
    val eFmt = intercept[RuntimeException] {
      Schemas.schemasValidation(raw, SchemaConfig(Seq("dt_raw" -> FieldSpec("d", "date"))))
    }
    assert(eFmt.getMessage.contains("format_source"))
  }

  test("registerValidation: summary + detail rows after a failed cross-check") {
    import graft.validate.Monitor
    val ts = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    val reg = Monitor.registerValidation(ts, Some("feature_store"), "fs_cus_demographic",
      "historical", "ingestion", successfullySaved = false,
      outcomes = Map(
        "MONTHLY_VAL" -> Monitor.Outcome(Some("SUCCESS"), None),
        "CROSS_CHECKING" -> Monitor.Outcome(Some("FAIL"), Some("month 2024-03 shrank"),
          Map("source_cnt" -> "90", "target_cnt" -> "100")),
        "OUTDATENESS" -> Monitor.Outcome(Some("SUCCESS"), None)))
    assert(!reg.passed)
    // CROSS_CHECKING failure + the non-ignorable SAVING row (monitor.py:625-631)
    assert(reg.failureReason.get ==
      "CROSS_CHECKING: month 2024-03 shrank\nSAVING: did not pass all validations")
    // 4 layer keys + saving row; MISSING_COLUMNS kept as null-status row
    assert(reg.detail.length == 5)
    val byType = reg.detail.map(r => r.getString(5) -> r).toMap
    assert(byType("cross_checking").getString(4) == "FAIL")
    assert(byType("cross_checking").getString(7) ==
      """{"source_cnt": "90", "target_cnt": "100"}""")
    assert(byType("missing_columns").get(4) == null)
    assert(byType("saving").getString(4) == "FAIL")
    assert(reg.summary.getString(4) == "FAIL")

    // ignored failure doesn't fail the run; detail still records ignored=true
    val reg2 = Monitor.registerValidation(ts, None, "t", "historical", "ingestion",
      successfullySaved = true,
      outcomes = Map("CROSS_CHECKING" -> Monitor.Outcome(Some("FAIL"), Some("boom"))),
      ignoreValidations = Set("CROSS_CHECKING"))
    assert(reg2.summary.getString(4) == "SUCCESS")
    assert(reg2.passed, "an ignored FAIL must not fail the run (resume semantics)")
    // the message still lands in the failure_reason LOG, like the reference
    assert(reg2.failureReason.exists(_.contains("boom")))
    assert(reg2.detail.find(_.getString(5) == "cross_checking").get.getBoolean(6))
    assert(reg2.summary.getString(6) == "CROSS_CHECKING")

    // dimensional skips OUTDATENESS; never-saved skips CROSS_CHECKING too
    val regDim = Monitor.registerValidation(ts, None, "t", "dimensional", "ingestion",
      successfullySaved = true, outcomes = Map.empty, alreadySaved = false)
    assert(regDim.detail.map(_.getString(5)) == Seq("monthly_val", "missing_columns", "saving"))

    // both tables append through the store
    val dir = Files.createTempDirectory("graft-monitor").toString
    val store = new TableStore(spark, dir)
    Monitor.save(spark, store, "val_summary", "val_detail", reg)
    Monitor.save(spark, store, "val_summary", "val_detail", reg2)
    assert(store.read("val_summary").count() == 2)
    assert(store.read("val_detail").count() == reg.detail.length + reg2.detail.length)
    assert(store.read("val_detail").schema.fieldNames.toSeq == Monitor.detailSchema.fieldNames.toSeq)
  }

  test("source battery: format/existence/empty/readable with aggregated errors") {
    import graft.validate.SourceCheck
    val dir = Files.createTempDirectory("graft-sourcecheck").toString
    val store = new TableStore(spark, dir)
    store.overwrite("good_table", Seq((1, "a")).toDF("id", "v"))
    assert(SourceCheck.validateStoreTables(store, Seq(" good_table ")) == Seq("good_table"))
    val e = intercept[IllegalArgumentException] {
      SourceCheck.validateStoreTables(store, Seq("good_table", "missing_one", "bad.name"))
    }
    assert(e.getMessage.contains("'missing_one', table does not exist"))
    assert(e.getMessage.contains("'bad.name', input format is incorrect"))

    // catalog variant over a real temp view-backed table; a fresh in-memory
    // catalog won't know about leftover warehouse dirs from a previous JVM —
    // clear them on disk first (same pattern as ScaleFunctionsSpec)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_check_db")
    spark.sql("DROP TABLE IF EXISTS graft_check_db.src_ok")
    val whDir = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "graft_check_db.db/src_ok")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    if (whDir.exists()) rm(whDir)
    Seq((1, "x")).toDF("id", "v").write.mode("overwrite")
      .saveAsTable("graft_check_db.src_ok")
    assert(SourceCheck.validateDatabaseAndTable(spark,
      Seq("graft_check_db.src_ok")) == Seq("graft_check_db.src_ok"))
    val e2 = intercept[IllegalArgumentException] {
      SourceCheck.validateDatabaseAndTable(spark, Seq(
        "no_dot_name", "graft_check_db.absent", "nodb.tbl", "bad-chars.tbl!"))
    }
    assert(e2.getMessage.contains("'no_dot_name', input format is incorrect"))
    assert(e2.getMessage.contains("table 'absent' does not exist"))
    assert(e2.getMessage.contains("database 'nodb' does not exist"))
    assert(e2.getMessage.contains("No alphanumeric characters"))

    // Runner pre-flight: missing source key fails fast with the name
    val e3 = intercept[IllegalArgumentException] {
      SourceCheck.requireSources(Map("clientes" -> Seq(1).toDF("id")), Seq("clientes", "pagos"))
    }
    assert(e3.getMessage.contains("'pagos', source is not provided"))
  }

  test("outdatedness from shift-config table: per-table lag, null lag fails") {
    val dir = Files.createTempDirectory("graft-shift").toString
    val store = new TableStore(spark, dir)
    store.overwrite("shift_tables", Seq(
      ("fresh_t", "dt", Some(1)),
      ("stale_t", "dt", Some(0)),
      ("broken_t", "dt", None: Option[Int])).toDF("table", "date_column", "availability_lag_months"))
    val now = java.time.LocalDate.of(2024, 5, 10)
    val fresh = Seq("2024-04-15").toDF("dt") // lag 1 → expected through 2024-04 → ok
    val stale = Seq("2024-02-01").toDF("dt") // lag 0 → expected 2024-05 → 3 months late
    val results = Validation.outdatednessFromConfig(store, "shift_tables",
      Map("fresh_t" -> fresh, "stale_t" -> stale), now)
    val byTable = results.map(o => o.table -> o).toMap
    assert(!byTable("fresh_t").isOutdated)
    assert(byTable("stale_t").isOutdated && byTable("stale_t").monthsLate == 3)
    // a table absent from the config is skipped (reference filter-IN)
    assert(results.length == 2)
    // null lag must fail hard (outdateness.py:52)
    val e = intercept[RuntimeException] {
      Validation.outdatednessFromConfig(store, "shift_tables",
        Map("broken_t" -> fresh), now)
    }
    assert(e.getMessage.contains("broken_t"))
  }

  test("crossCheckDimensional tolerates small drift, rejects large") {
    val a100 = spark.range(100).toDF("id")
    val a104 = spark.range(104).toDF("id")
    val a120 = spark.range(120).toDF("id")
    assert(Validation.crossCheckDimensional(a104, a100)._1)       // 4% < 5%
    assert(!Validation.crossCheckDimensional(a120, a100)._1)      // 20% > 5%
  }

  test("outdatedness with fixed clock (SURVEY §5: unit test with fixed clock)") {
    val df = Seq("2024-03-15", "2024-04-02").toDF("event_dt")
    val now = java.time.LocalDate.of(2024, 6, 20)
    // lag 1 month: expect data through 2024-05 → max is 2024-04 → 1 month late
    val o1 = Validation.outdatedness(df, "t", "event_dt", 1, now)
    assert(o1.isOutdated && o1.monthsLate == 1 && o1.maxEventDt == "2024-04-01")
    // lag 2 months: expect through 2024-04 → fresh
    assert(!Validation.outdatedness(df, "t", "event_dt", 2, now).isOutdated)
  }

  test("outdatedness on empty / all-null dates reports 'no data' instead of throwing") {
    val now = java.time.LocalDate.of(2024, 6, 20)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("event_dt STRING"))
    val oEmpty = Validation.outdatedness(empty, "t", "event_dt", 1, now)
    assert(oEmpty.isOutdated && oEmpty.maxEventDt == "no data")
    val allNull = Seq(Option.empty[String], Option.empty[String]).toDF("event_dt")
    assert(Validation.outdatedness(allNull, "t", "event_dt", 1, now).maxEventDt == "no data")
  }

  test("leakageCheck counts future feature snapshots and unmatched lookups") {
    import org.apache.spark.sql.functions.col
    val ts = Seq(
      // label_t, good feature time (<=), leaky feature time (>), null
      ("2024-02-01", "2024-01-01", "2024-03-01"),
      ("2024-02-01", "2024-02-01", "2024-02-02"),
      ("2024-02-01", null, "2024-01-15"))
      .toDF("label_t", "f1_t", "f2_t")
      .select(col("label_t").cast("date"), col("f1_t").cast("date"), col("f2_t").cast("date"))
    val out = Validation.leakageCheck(ts, "label_t", Seq("f1_t", "f2_t"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("f1_t") == ((0L, 1L, 3L)))  // equal-to-label is NOT leakage
    assert(out("f2_t") == ((2L, 0L, 3L)))  // two strictly-future snapshots
    // TrainingSet.build output passes by construction
    val labels = Seq((1L, "2024-02-01")).toDF("cust", "t")
      .select(col("cust"), col("t").cast("date").as("t"))
    val feats = Seq((1L, "2024-01-01", 5.0), (1L, "2024-03-01", 9.0))
      .toDF("cust", "snap", "bal")
      .select(col("cust"), col("snap").cast("date").as("snap"), col("bal"))
    val ts2 = graft.features.TrainingSet.build(labels, "t",
      Seq(graft.features.FeatureLookup(feats, Seq("cust"), "snap", prefix = "f_")))
    val audit = Validation.leakageCheck(ts2, "t", Seq("f_snap"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("f_snap") == 0L)
  }

  test("validation log appends typed rows") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_vlog").toString)
    val ts = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    Validation.logResult(spark, store, "validation_log", "fs_x", "cross_check",
      passed = true, detail = "ok", executedAt = ts)
    Validation.logResult(spark, store, "validation_log", "fs_x", "outdatedness",
      passed = false, detail = "1 month late", executedAt = ts)
    val log = store.read("validation_log")
    assert(log.count() == 2)
    // parquet round-trip widens nullability; names/types must match
    assert(log.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Validation.summarySchema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("Runner end-to-end: five pipelines saved, registered, idempotent rerun") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_run").toString)
    val sources = BankingDataGen.all(spark, n = 40, months = 24)
    val today = java.time.LocalDate.of(2024, 7, 15)
    val r1 = Runner.run(spark, sources, store,
      Runner.Params(startDate = "2023-06-01"), today)
    assert(r1.size == 5 && r1.forall(_.rows > 0) && r1.forall(_.validationPassed))
    // registration metadata present
    val m = store.meta("fs_cus_transactions").get
    assert(m.primaryKeys == Seq("pk_customer", "tpk_release_dt"))
    assert(m.timestampKeys == Seq("tpk_release_dt"))
    // rerun with identical sources: upsert path, same row counts (idempotent),
    // and with monitorTables set the run registers its validations
    val r2 = Runner.run(spark, sources, store,
      Runner.Params(startDate = "2023-06-01",
        monitorTables = Some(("val_summary", "val_detail"))), today)
    assert(r1.map(r => r.table -> r.rows).toMap == r2.map(r => r.table -> r.rows).toMap)
    assert(r2.forall(_.validationPassed))
    // one summary row per pipeline; details carry the cross_checking rows
    assert(store.read("val_summary").count() == 5)
    val detail = store.read("val_detail")
    assert(detail.where("validation_type = 'cross_checking' AND status = 'SUCCESS'")
      .count() == 5)
    assert(detail.where("validation_type = 'saving'").count() == 5)
    // a FAILING cross-check still registers monitor rows BEFORE aborting:
    // shrink the transactions source so its months lose rows vs the saved
    // snapshot (transactions is the last pipeline — the first four pass)
    val shrunk = sources.updated("transacciones",
      sources("transacciones").where("id_cliente % 2 = 0"))
    intercept[RuntimeException] {
      Runner.run(spark, shrunk, store,
        Runner.Params(startDate = "2023-06-01",
          monitorTables = Some(("val_summary", "val_detail"))), today)
    }
    val sum2 = store.read("val_summary")
    assert(sum2.count() == 10) // 5 prior + 4 SUCCESS + 1 FAIL
    assert(sum2.where("status = 'FAIL'").count() == 1)
    assert(store.read("val_detail")
      .where("validation_type = 'cross_checking' AND status = 'FAIL'").count() == 1)
  }

  test("Runner registers saved tables in the feature catalog; catalog drift recovers") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_runreg").toString)
    val registry = new FeatureRegistry(spark,
      Files.createTempDirectory("graft_runreg_cat").toString)
    val sources = BankingDataGen.all(spark, n = 30, months = 12)
    val today = java.time.LocalDate.of(2024, 7, 15)
    Runner.run(spark, sources, store,
      Runner.Params(startDate = "2023-06-01", registry = Some(registry)), today)
    assert(registry.tables.size == 5)
    val e = registry.getTable("fs_cus_payment_behavior").get
    assert(e.primaryKeys == Seq("pk_customer", "tpk_release_dt"))
    assert(e.timestampKeys == Seq("tpk_release_dt"))
    assert(e.dataSources == Seq("pagos")) // lineage from the pipeline's source
    assert(e.schema == store.meta("fs_cus_payment_behavior").get.schema)
    // catalog drift: the registry remembers a stale schema → the next run's
    // registration hits the conflict path (feature_store_register.py:168-193)
    // and recovers drop → recreate → re-register without failing the run
    registry.dropTable("fs_cus_payment_behavior")
    registry.registerTable("fs_cus_payment_behavior",
      org.apache.spark.sql.types.StructType.fromDDL("pk_customer BIGINT"),
      Seq("pk_customer"), Nil)
    Runner.run(spark, sources, store,
      Runner.Params(startDate = "2023-06-01", registry = Some(registry)), today)
    val e2 = registry.getTable("fs_cus_payment_behavior").get
    assert(e2.schema == store.meta("fs_cus_payment_behavior").get.schema)
    assert(e2.dataSources == Seq("pagos"))
    assert(registry.tables.size == 5)
  }

  private val chainA = Seq("fs_cus_demographic", "fs_cus_credit_risk")
  private val chainB = Seq("fs_cus_holding_products", "fs_cus_payment_behavior",
    "fs_cus_transactions")

  test("Runner runs the two reference chains at once; a failure stops only its own chain") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_chains").toString)
    val sources = BankingDataGen.all(spark, n = 30, months = 12)
    val today = java.time.LocalDate.of(2024, 7, 15)
    val params = Runner.Params(startDate = "2023-06-01")
    val (r1, jobs) = TestSpark.jobsOf(Runner.run(spark, sources, store, params, today))
    // every job runs on a worker (the caller's source check launches
    // none), so a count means the caller's job group reached the workers
    assert(jobs > 0)
    assert(r1.map(_.table) == chainA ++ chainB) // reference order
    r1.foreach(r => assert(r.rows == store.read(r.table).count(), r))
    def versions() = (chainA ++ chainB).map(t => t -> store.currentVersion(t)).toMap
    // holding (the head of chain B) fails its cross-check: payment and
    // transactions are not saved, chain A runs to its end
    val v1 = versions()
    val shrunk = sources.updated("productos", sources("productos").where("id_cliente % 2 = 0"))
    val e = intercept[RuntimeException](Runner.run(spark, shrunk, store, params, today))
    assert(e.getMessage.contains("cross-check failed for fs_cus_holding_products"), e)
    assert(e.getSuppressed.isEmpty)
    val v2 = versions()
    chainA.foreach(t => assert(v2(t) == v1(t) + 1, t))
    chainB.foreach(t => assert(v2(t) == v1(t), t))
    // both chains fail: the first failure in reference order (chain A's
    // credit_risk) is thrown, chain B's holding failure rides as suppressed
    val both = shrunk.updated("buro_credito", sources("buro_credito").where("id_cliente % 2 = 0"))
    val e2 = intercept[RuntimeException](Runner.run(spark, both, store, params, today))
    assert(e2.getMessage.contains("cross-check failed for fs_cus_credit_risk"), e2)
    assert(e2.getSuppressed.map(_.getMessage).toSeq.exists(
      _.contains("cross-check failed for fs_cus_holding_products")))
    val v3 = versions()
    assert(v3("fs_cus_demographic") == v2("fs_cus_demographic") + 1)
    (chainA.tail ++ chainB).foreach(t => assert(v3(t) == v2(t), t))
  }

  test("Runner job counts: a backfill and a refresh on a small input") {
    // a session of its own: conf set by other suites on the shared session
    // never reaches these plans
    val s = spark.newSession()
    val store = new TableStore(s, Files.createTempDirectory("graft_runjobs").toString)
    val sources = BankingDataGen.all(s, n = 20, months = 12)
    val today = java.time.LocalDate.of(2024, 7, 15)
    val params = Runner.Params(startDate = "2023-06-01")
    val (_, backfill) = TestSpark.jobsOf(Runner.run(s, sources, store, params, today))
    val (_, refresh) = TestSpark.jobsOf(Runner.run(s, sources, store, params, today))
    // the row count rides the write, the cross-check is one aggregation and
    // a first write's frame is not cached; a changed count is a plan change
    // and needs its own measurement
    assert((backfill, refresh) == (12, 32))
  }

  test("resolveEndDate: 'actual' becomes first of current month") {
    assert(Runner.resolveEndDate("actual", java.time.LocalDate.of(2024, 7, 15)) == "2024-07-01")
    assert(Runner.resolveEndDate("2024-01-31", java.time.LocalDate.of(2024, 7, 15)) == "2024-01-31")
  }

  test("profile: one-pass long-format stats, numeric vs string extrema") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Some(1L), Some("b"), Some(2.5)), (Some(2L), Some("a"), None),
      (Some(2L), None, Some(-1.0))
    ).toDF("id", "s", "v")
    val p = Validation.profile(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)), Option(r.get(6)), Option(r.get(7))))).toMap
    assert(p("id") == ((3L, 0L, 2L, Some(1.0), Some(2.0), None, None)))
    assert(p("s") == ((3L, 1L, 2L, None, None, Some("a"), Some("b"))))
    assert(p("v") == ((3L, 1L, 2L, Some(-1.0), Some(2.5), None, None)))
    // single aggregation: the whole profile is one job over one scan
    assert(Validation.profile(df, Seq("id", "s", "v")).queryExecution
      .executedPlan.toString.linesIterator.count(_.contains("Scan")) >= 1)
  }

  test("quarantine: failed checks accumulate per row; null predicate counts as failure") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Some(10.0), "O"),   // clean
      (2L, Some(-5.0), "O"),   // price fails
      (3L, None, "X"),         // price null -> fails; status fails
      (4L, Some(3.0), "Z")     // status fails
    ).toDF("id", "price", "status")
    val (valid, rejected) = Validation.quarantine(df, Seq(
      "price_positive" -> (col("price") > 0),
      "status_known" -> col("status").isin("O", "F", "P")))
    assert(valid.select("id").as[Long].collect().toSet == Set(1L))
    val rej = rejected.select("id", "failed_checks").as[(Long, String)].collect().toMap
    assert(rej == Map(2L -> "price_positive", 3L -> "price_positive,status_known",
      4L -> "status_known"))
    // partition: every input row lands in exactly one side
    assert(valid.count() + rejected.count() == df.count())
  }
}
