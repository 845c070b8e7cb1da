package graft.pipelines

import java.util.concurrent.{ExecutionException, Executors}
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

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

  /** Run the five pipelines as the reference's two job chains, each in DAG
    * order, validate, save, register. The chains run at the same time, on
    * two threads of a pool that lives for this call; each worker starts
    * with the caller's Spark local properties (job group, scheduler and
    * tracing properties), so its jobs are attributed to the caller.
    *
    * A failure stops the rest of its own chain; the other chain still runs
    * to its end. Then the first failure in reference order is rethrown,
    * with a failure of the other chain attached as suppressed. Results come
    * back in reference order: demographic, credit_risk, holding_products,
    * payment_behavior, transactions. */
  def run(spark: SparkSession, sources: Map[String, DataFrame], store: TableStore,
          params: Params = Params(),
          today: java.time.LocalDate = java.time.LocalDate.now()): Seq[PipelineResult] = {
    val endDate = resolveEndDate(params.endDate, today)
    // source battery before any pipeline logic (utils.py:1174-1291)
    SourceCheck.requireSources(sources,
      Seq("clientes", "buro_credito", "productos", "pagos", "transacciones"))
    def step(table: String, sourceName: String)(build: => DataFrame): () => PipelineResult =
      () => runPipeline(spark, store, params, today, table, sourceName, build)
    val chains = Seq(
      // workspace A DAG: demographic → credit_risk
      Seq(
        step("fs_cus_demographic", "clientes")(
          Pipelines.demographic(sources("clientes"), params.startDate, endDate)),
        step("fs_cus_credit_risk", "buro_credito")(
          Pipelines.creditRisk(sources("buro_credito")))),
      // workspace B DAG: holding → payment_behavior → transactions
      Seq(
        step("fs_cus_holding_products", "productos")(
          Pipelines.holdingProducts(sources("productos"))),
        step("fs_cus_payment_behavior", "pagos")(Pipelines.paymentBehavior(sources("pagos"))),
        step("fs_cus_transactions", "transacciones")(
          Pipelines.transactions(sources("transacciones")))))

    // a chain's results up to its first failure, and that failure
    def runChain(chain: Seq[() => PipelineResult]): (Seq[PipelineResult], Option[Throwable]) = {
      val done = Seq.newBuilder[PipelineResult]
      try {
        chain.foreach(s => done += s())
        (done.result(), None)
      } catch { case NonFatal(e) => (done.result(), Some(e)) }
    }
    val pool = Executors.newFixedThreadPool(chains.size, (r: Runnable) => {
      val t = new Thread(r, "graft-runner-chain")
      t.setDaemon(true)
      t
    })
    try {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val outcomes = chains
        .map(chain => SQLExecution.withThreadLocalCaptured(session, pool)(runChain(chain)))
        // only a fatal error escapes runChain; it fails its whole chain
        .map(f => try f.get() catch { case e: ExecutionException => (Nil, Some(e.getCause)) })
      outcomes.flatMap(_._2) match {
        case first +: others =>
          others.foreach(first.addSuppressed)
          throw first
        case _ => outcomes.flatMap(_._1)
      }
    } finally pool.shutdown()
  }

  /** One pipeline: cross-check against the saved table, save, register. */
  private def runPipeline(spark: SparkSession, store: TableStore, params: Params,
                          today: java.time.LocalDate, table: String, sourceName: String,
                          build: => DataFrame): PipelineResult = {
    // cross-check vs previously saved snapshot (monitor.py:327-470): only
    // then do two queries (the cross-check and the upsert) read the frame,
    // so only then is it cached; a first write reads it once
    val alreadySaved = store.exists(table)
    val df = if (alreadySaved) build.cache() else build
    try {
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
      val saved: Option[Try[FeatureStore.SaveReport]] =
        if (!passed && !params.omitValidationErrors) None
        else Some(Try(FeatureStore.save(store, table, df,
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
            Map("graft.sourceTables" -> sourceName)))))
      // register the run's validations BEFORE aborting, so failed runs
      // leave a trace in the monitor tables (monitor.py:566-663)
      params.monitorTables.foreach { case (summaryTable, detailTable) =>
        val reg = Monitor.registerValidation(
          java.sql.Timestamp.valueOf(today.atStartOfDay()),
          database = None, tableName = table, tableType = "historical",
          layer = "ingestion", successfullySaved = saved.exists(_.isSuccess),
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
      val report = saved.map(_.get) // a failed save throws here
        .getOrElse(sys.error(s"cross-check failed for $table ($shrinking shrinking month(s))"))
      // post-task registration (feature_store_register.py: a task that
      // reaches TERMINATED/SUCCESS gets its feature tables registered)
      params.registry.foreach(reg => Registration.registerFeatureTable(store, reg, table))
      PipelineResult(table, report.rows, report.version, passed)
    } finally if (alreadySaved) df.unpersist()
  }
}
