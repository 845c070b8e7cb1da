package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.{FeatureRegistry, FeatureStore, Registration, TableStore}
import graft.validate.{Monitor, SourceCheck, Validation}

/** Orchestrated end-to-end run: parameter normalization, the five-pipeline
  * task DAG, validation, and feature-table persistence + registration.
  *
  * Reference semantics: `notebooks_orchestator.py:50-130` (param
  * validation; `end_date: "actual"` resolves to the first of the current
  * month, `:9-16,92-94`), the per-workspace job DAGs
  * (demographic → credit_risk; holding → payment → transactions —
  * `config/dev/job_resources/feature-store-medpag-resource.yml:52-113`), and
  * `FeatureStoreManager.save` + registration
  * (`notebooks/utils.py:1919-2045`). Cross-workspace REST registration is
  * out of scope for a single-process engine (SURVEY §3.4) — registration
  * here is the TableStore metadata write (PKs, timestamp keys, tags).
  */
object Runner {

  final case class Params(
      startDate: String = "2023-01-01",
      endDate: String = "actual", // "actual" → first of current month
      forceOverwrite: Boolean = false,
      overwriteSchema: Boolean = false,
      omitValidationErrors: Boolean = false,
      // when set, every pipeline run appends its validation register to
      // these (summaryTable, detailTable) — the reference's
      // register_validation flow (monitor.py:566-663)
      monitorTables: Option[(String, String)] = None,
      // when set, every successfully saved table is registered in the
      // feature catalog with its source-table lineage — the post-task
      // registration of feature_store_register.py (a pipeline completing
      // IS the task reaching TERMINATED/SUCCESS in-process), including
      // the schema-conflict drop → recreate → re-register recovery
      registry: Option[FeatureRegistry] = None)

  /** `end_date: "actual"` → first of current month (`notebooks_orchestator.py:9-16`).
    * `today` injected for determinism. */
  def resolveEndDate(endDate: String, today: java.time.LocalDate): String =
    if (endDate == "actual") today.withDayOfMonth(1).toString else endDate

  final case class PipelineResult(table: String, rows: Long, version: Int,
                                  validationPassed: Boolean)

  /** Run the five pipelines in reference DAG order, validate, save, register. */
  def run(spark: SparkSession, sources: Map[String, DataFrame], store: TableStore,
          params: Params = Params(),
          today: java.time.LocalDate = java.time.LocalDate.now()): Seq[PipelineResult] = {
    val endDate = resolveEndDate(params.endDate, today)
    // source battery before any pipeline logic (utils.py:1174-1291)
    SourceCheck.requireSources(sources,
      Seq("clientes", "buro_credito", "productos", "pagos", "transacciones"))
    val outputs = Seq(
      // workspace A DAG: demographic → credit_risk
      ("fs_cus_demographic", "clientes",
        () => Pipelines.demographic(sources("clientes"), params.startDate, endDate)),
      ("fs_cus_credit_risk", "buro_credito",
        () => Pipelines.creditRisk(sources("buro_credito"))),
      // workspace B DAG: holding → payment_behavior → transactions
      ("fs_cus_holding_products", "productos",
        () => Pipelines.holdingProducts(sources("productos"))),
      ("fs_cus_payment_behavior", "pagos",
        () => Pipelines.paymentBehavior(sources("pagos"))),
      ("fs_cus_transactions", "transacciones",
        () => Pipelines.transactions(sources("transacciones"))))

    outputs.map { case (table, sourceName, mk) =>
      val df = mk().cache() // R6: cache across validate + write
      try {
        // cross-check vs previously saved snapshot (monitor.py:327-470)
        val alreadySaved = store.exists(table)
        val mismatches =
          if (!alreadySaved) Nil
          else Validation.crossCheckHistorical(
            df, store.read(table), "tpk_release_dt", "tpk_release_dt")
        // divergent months are expected on incremental refresh; only a
        // SHRINKING month is a hard failure
        val shrinking = mismatches.count(m => m.sourceCnt < m.targetCnt)
        val passed = shrinking == 0
        // save only when validations pass (or are explicitly ignored); a
        // save failure is recorded, not swallowed
        var saveReport: Option[FeatureStore.SaveReport] = None
        var saveError: Option[Throwable] = None
        if (passed || params.omitValidationErrors) {
          try saveReport = Some(FeatureStore.save(store, table, df,
            primaryKeys = Seq("pk_customer", "tpk_release_dt"),
            timestampKeys = Seq("tpk_release_dt"),
            description = s"graft feature table $table",
            forceOverwrite = params.forceOverwrite,
            overwriteSchema = params.overwriteSchema,
            policy = if (params.omitValidationErrors) FeatureStore.IgnoreMissing
              else FeatureStore.FailOnMissing,
            // registration reads lineage from TBLPROPERTIES like the
            // reference's get_metadata; it rides the save's commit
            properties = params.registry.fold(Map.empty[String, String])(_ =>
              Map("graft.sourceTables" -> sourceName))))
          catch { case scala.util.control.NonFatal(e) => saveError = Some(e) }
        }
        // register the run's validations BEFORE aborting, so failed runs
        // leave a trace in the monitor tables (monitor.py:566-663)
        params.monitorTables.foreach { case (summaryTable, detailTable) =>
          val reg = Monitor.registerValidation(
            java.sql.Timestamp.valueOf(today.atStartOfDay()),
            database = None, tableName = table, tableType = "historical",
            layer = "ingestion", successfullySaved = saveReport.isDefined,
            outcomes = Map("CROSS_CHECKING" -> Monitor.Outcome(
              Some(if (passed) "SUCCESS" else "FAIL"),
              if (passed) None else Some(s"$shrinking shrinking month(s)"),
              Map("mismatched_months" -> mismatches.size.toString,
                "shrinking_months" -> shrinking.toString))),
            ignoreValidations =
              if (params.omitValidationErrors) Set("CROSS_CHECKING") else Set.empty,
            alreadySaved = alreadySaved)
          Monitor.save(spark, store, summaryTable, detailTable, reg)
        }
        saveError.foreach(e => throw e)
        // post-task registration (feature_store_register.py: a task that
        // reaches TERMINATED/SUCCESS gets its feature tables registered)
        if (saveReport.isDefined) params.registry.foreach { reg =>
          Registration.registerFeatureTable(store, reg, table)
        }
        if (!passed && !params.omitValidationErrors)
          sys.error(s"cross-check failed for $table ($shrinking shrinking month(s))")
        PipelineResult(table, store.read(table).count(),
          saveReport.map(_.version).getOrElse(store.currentVersion(table)), passed)
      } finally df.unpersist()
    }
  }
}
