package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Dates, Exprs, TextNorm, Types}
import graft.ops.{Aggregations, Filters, Joins, Ratios, Selection, Windows}

/** The five customer feature pipelines — the reference system's "queries" —
  * rebuilt Spark-first on the graft operator kit. Each takes raw `demo_db`
  * source DataFrames (see [[graft.datagen.BankingDataGen]]) and returns the
  * standardized time-series feature table: composite PK
  * (pk_customer, tpk_release_dt), per-table feature prefix, LONG→INT and
  * DECIMAL→FLOAT coercions (`notebooks/utils.py:538-564`).
  *
  * Pipeline shapes cited per notebook under
  * `/root/reference/notebooks/development/`.
  */
object Pipelines {

  private val PksMapper = Map("id_customer" -> "pk_customer", "release_dt" -> "tpk_release_dt")
  private val Pks = PksMapper.values.toSeq

  /** `feature_output_standarize` common tail: select → rename PKs → prefix
    * → coercions (e.g. `fs_cus_transactions.py:640-716`). */
  private def standardize(df: DataFrame, cols: Seq[String], prefix: String): DataFrame =
    Types.standardize(
      Selection.prefixFeatures(
        Selection.rename(
          Selection.selectCols(df, Seq("id_customer", "release_dt") ++ cols),
          PksMapper),
        prefix, keep = Pks))

  // =====================================================================
  // fs_cus_transactions (`fs_cus_transactions.py`) — prefix ctrx_
  // =====================================================================

  def transactions(transacciones: DataFrame): DataFrame = {
    // ingest (:65-76)
    val ingested = Filters.validIds(transacciones, "id_cliente")
      .select(
        col("id_cliente").as("id_customer"),
        col("periodo").as("event_dt"),
        col("numero_transacciones").as("trx_cnt"),
        col("monto_total_transacciones").as("amt_trx"),
        col("recencia_ultima_transaccion").as("last_transaction_recall"))
    // availability shift +1 month (:77-87)
    val shifted = ingested.withColumn("release_dt",
      Dates.releaseDt(col("event_dt")))
    val clean = TextNorm.normalizeTable(shifted)

    // aggregations (:595-607) + ratio (:609-613). NOT pre-partitioned on
    // id_customer (the holdingProducts one-exchange shape): measured r15,
    // the raw-row exchange without map-side partial aggregation cost this
    // light pipeline 0.39 -> 1.26 s — partial-agg rows are far narrower
    // than raw rows here (guide §2.3 "aggregate before you shuffle").
    val agged = Aggregations.calculateAggregations(clean,
        groupbyColumns = Seq("id_customer", "release_dt"),
        numericOps = Seq("trx_cnt" -> Seq("sum"), "amt_trx" -> Seq("sum"),
          "last_transaction_recall" -> Seq("sum")),
        fillnaValue = Some(0))
      .withColumnRenamed("trx_cnt_sum_m", "trx_cnt_m")
    val withRatio = Ratios.withRatios(agged, Seq("amt_trx_sum_m" -> "trx_cnt_m"))

    // rolling stats (:627-629); lag features are latent no-ops in the
    // reference (SURVEY §2.5 W2) and excluded from the parity output
    val numericCols = Seq("trx_cnt_m", "amt_trx_sum_m",
      "last_transaction_recall_sum_m", "amt_trx_sum_m_to_trx_cnt_m_ratio")
    val rolled = Windows.withRollingStats(withRatio, "id_customer", "release_dt",
      numericCols, Nil, Seq(3, 6))

    // final 22-feature select (:677-700)
    val features = Seq(
      "trx_cnt_m", "amt_trx_sum_m", "last_transaction_recall_sum_m",
      "amt_trx_sum_m_to_trx_cnt_m_ratio") ++
      (for { c <- numericCols; n <- Seq(3, 6); s <- Seq("ravg", "rstd") }
        yield s"${c}_${s}_${n}m")
    standardize(rolled, features, "ctrx_")
  }

  // =====================================================================
  // fs_cus_credit_risk (`fs_cus_credit_risk.py`) — prefix chr_
  // =====================================================================

  def creditRisk(buroCredito: DataFrame): DataFrame = {
    // ingest + rating mapping (:59-83)
    val ingested = Filters.validIds(buroCredito, "id_cliente")
      .where(col("buro_score").isNotNull && col("calificacion_sistema").isNotNull)
      .select(
        col("id_cliente").as("id_customer"),
        col("periodo").as("event_dt"),
        col("buro_score").as("bureau_score"),
        Exprs.caseMap(col("calificacion_sistema"),
          Seq("A" -> 1, "B" -> 2, "C" -> 3, "D" -> 4, "E" -> 5), 0).as("rating_num"),
        col("consultas_buro_12m").as("bureau_inquiries_12m"),
        col("deuda_total_bancos").as("total_banking_debt"))
    val shifted = ingested.withColumn("release_dt",
      Dates.releaseDt(col("event_dt")))
    val clean = TextNorm.normalizeTable(shifted)

    // grouped agg (:213-261): credits_cnt + {c}_sum + max(categorical).
    // NOT pre-partitioned (see transactions — measured-negative on the
    // light pipelines, 0.40 -> 1.07 s).
    val agged = Aggregations.creditAggregations(clean,
      numericCols = Seq("bureau_score", "total_banking_debt", "bureau_inquiries_12m"),
      categoricalCols = Seq("rating_num"))

    // rolling stats (:336-397) + ratio (:575-579)
    val numericSums = Seq("bureau_score_sum", "total_banking_debt_sum",
      "bureau_inquiries_12m_sum")
    val rolled = Windows.withRollingStats(agged, "id_customer", "release_dt",
      numericSums, Seq("rating_num"), Seq(3, 6))
    val withRatio = Ratios.withRatios(rolled,
      Seq("total_banking_debt_sum" -> "bureau_score_sum"))

    // final select (:630-655): 24 columns
    val features = Seq("credits_cnt", "bureau_score_sum", "total_banking_debt_sum",
      "bureau_inquiries_12m_sum", "rating_num") ++
      (for { c <- numericSums; n <- Seq(3, 6); s <- Seq("ravg", "rstd") }
        yield s"${c}_${s}_${n}m") ++
      Seq("rating_num_rmin_3m", "rating_num_rmax_3m",
        "rating_num_rmin_6m", "rating_num_rmax_6m",
        "total_banking_debt_sum_to_bureau_score_sum_ratio")
    standardize(withRatio, features, "chr_")
  }

  // =====================================================================
  // fs_cus_payment_behavior (`fs_cus_payment_behavior.py`) — prefix cpym_
  // =====================================================================

  def paymentBehavior(pagos: DataFrame): DataFrame = {
    // ingest (:55-84) + event_dt parse (:84-86)
    val ingested = Filters.validIds(pagos, "id_cliente")
      .where(col("calificacion_sistema").isNotNull)
      .select(
        col("id_cliente").as("id_customer"),
        to_date(col("periodo"), "yyyy-MM").as("event_dt"),
        col("fecha_apertura").as("openning_date"),
        col("fecha_cierre").as("closing_date"),
        col("saldo_total_credito").as("amt_total_balance"),
        col("monto_pagado").as("amt_paid"),
        col("valor_total_credito").as("amt_total_credit"),
        col("cuota_mensual").as("amt_installment"),
        col("cuota_pagada").as("ind_installment_paid"),
        col("pago_minimo").as("ind_did_min_payment"),
        Exprs.caseMap(col("calificacion_sistema"),
          Seq("A" -> 1, "B" -> 2, "C" -> 3, "D" -> 4, "E" -> 5), 0).as("rating_num"))
    val shifted = ingested.withColumn("release_dt",
      Dates.releaseDt(col("event_dt").cast("string"), "yyyy-MM-dd"))
    val clean = TextNorm.normalizeTable(shifted)

    // time features (:120-160): month durations, cast int
    val timed = clean.withColumns(Map(
      "credit_duration_in_months" ->
        Dates.monthsBetweenRounded(col("closing_date"), col("openning_date")).cast("int"),
      "time_to_close_in_months" ->
        Dates.monthsBetweenRounded(col("closing_date"), col("event_dt")).cast("int")))

    // grouped agg (:263-311) with post-renames (:624-627). NOT
    // pre-partitioned (see transactions — measured-negative on the light
    // pipelines, 0.38 -> 1.16 s).
    val agged = Aggregations.creditAggregations(timed,
        numericCols = Seq("amt_total_balance", "amt_paid", "amt_total_credit",
          "amt_installment", "credit_duration_in_months", "time_to_close_in_months"),
        categoricalCols = Seq("ind_installment_paid", "ind_did_min_payment", "rating_num"))
      .withColumnsRenamed(Map(
        "credit_duration_in_months_sum" -> "credit_duration_in_months",
        "time_to_close_in_months_sum" -> "time_to_close_in_months"))

    // rolling (:636-649) + percentages (:651-657)
    val rollNumeric = Seq("amt_total_balance_sum", "amt_paid_sum", "amt_installment_sum")
    val rollCategorical = Seq("ind_installment_paid", "ind_did_min_payment", "rating_num")
    val rolled = Windows.withRollingStats(agged, "id_customer", "release_dt",
      rollNumeric, rollCategorical, Seq(3, 6))
    val withPct = Ratios.withPercentages(rolled, Seq(
      "amt_paid_sum" -> "amt_total_credit_sum",
      "amt_total_balance_sum" -> "amt_total_credit_sum",
      "time_to_close_in_months" -> "credit_duration_in_months"))

    // final select (:704-744): 37 features
    val features = Seq("credits_cnt", "amt_total_balance_sum", "amt_paid_sum",
      "amt_total_credit_sum", "amt_installment_sum", "credit_duration_in_months",
      "time_to_close_in_months", "ind_installment_paid", "ind_did_min_payment",
      "rating_num") ++
      (for { c <- rollNumeric; n <- Seq(3, 6); s <- Seq("ravg", "rstd") }
        yield s"${c}_${s}_${n}m") ++
      (for { c <- rollCategorical; n <- Seq(3, 6); s <- Seq("rmin", "rmax") }
        yield s"${c}_${s}_${n}m") ++
      Seq("amt_paid_sum_pct", "amt_total_balance_sum_pct", "time_to_close_in_months_pct")
    standardize(withPct, features, "cpym_")
  }

  // =====================================================================
  // fs_cus_holding_products (`fs_cus_holding_products.py`) — prefix chp_
  // =====================================================================

  def holdingProducts(productos: DataFrame): DataFrame = {
    // ingest (:55-67)
    val ingested = Filters.validIds(productos, "id_cliente")
      .where(col("monto").isNotNull)
      .select(
        col("id_cliente").as("id_customer"),
        col("fecha").as("event_dt"),
        col("producto").as("product"),
        col("monto").as("amount"),
        col("total_productos").as("products_cnt"))
    val shifted = ingested.withColumn("release_dt",
      Dates.releaseDt(col("event_dt").cast("date").cast("string"), "yyyy-MM-dd"))
    // textnorm maps product values to the pivot keys: "tarjeta de credito"
    // → "tarjeta_de_credito" (`fs_cus_holding_products.py:607-612`)
    val clean = TextNorm.normalizeTable(shifted)

    // conditional pivot + totals (:607-640)
    val catsToPivot = Seq(
      "credito_vehicular" -> "vehicle_loan",
      "credito_hipotecario" -> "mortgage_loan",
      "tarjeta_de_credito" -> "credit_card",
      "credito_productivo" -> "productive_credit")
    // ONE exchange for the whole tail (r15, guide §2.4): hash-place the
    // raw rows on id_customer BEFORE the aggregation — hashpartitioning
    // on a subset of the grouping keys satisfies the groupBy's clustered
    // distribution, and the rolling window partitions by id_customer too,
    // so the agg's own (id_customer, release_dt) exchange AND the window's
    // id_customer exchange both disappear. Measured 2.34 -> 1.66 s at
    // reference scale. The trade only pays HERE because this pipeline's
    // pivot makes partial-agg rows WIDER than the raw rows (9 agg slots ×
    // 4 pivot categories); on the three light pipelines the same shape
    // was measured-NEGATIVE (raw rows cross the wire un-partially-
    // aggregated, 0.4 -> 1.2 s — guide §2.3) and is deliberately not
    // applied there. (Also distinct from the measured-negative window-pin
    // experiment in withRollingStats: no parallelism pinned, AQE still
    // coalesces the one exchange.)
    val agged = Aggregations.calculateAggregations(
        clean.repartition(col("id_customer")),
        groupbyColumns = Seq("id_customer", "release_dt"),
        numericOps = Seq("products_cnt" -> Seq("max"),
          "amount" -> Seq("sum", "avg", "min", "max")),
        pivotColumn = Some("product"),
        pivotOps = Seq(
          Aggregations.PivotOp("SUM", "amount", "amount_sum_m"),
          Aggregations.PivotOp("LIT", "1", "product")),
        catsToPivot = catsToPivot,
        fillnaValue = Some(0))
      .withColumnRenamed("products_cnt_max_m", "products_cnt_m")

    val numericCols = catsToPivot.map(c => s"${c._2}_amount_sum_m") ++
      Seq("amount_sum_m", "amount_avg_m", "amount_min_m", "amount_max_m")
    val categoricalCols = catsToPivot.map(c => s"ind_${c._2}_product") :+ "products_cnt_m"
    val rolled = Windows.withRollingStats(agged, "id_customer", "release_dt",
      numericCols, categoricalCols, Seq(3, 6))

    // final select (:723-791): 65 features
    val features = catsToPivot.map(c => s"${c._2}_amount_sum_m") ++
      catsToPivot.map(c => s"ind_${c._2}_product") ++
      Seq("products_cnt_m", "amount_sum_m", "amount_avg_m", "amount_min_m", "amount_max_m") ++
      (for { c <- numericCols; n <- Seq(3, 6); s <- Seq("ravg", "rstd") }
        yield s"${c}_${s}_${n}m") ++
      (for { c <- categoricalCols; n <- Seq(3, 6); s <- Seq("rmin", "rmax") }
        yield s"${c}_${s}_${n}m")
    standardize(rolled, features, "chp_")
  }

  // =====================================================================
  // fs_cus_demographic (`fs_cus_demographic.py`) — prefix cdmg_
  // =====================================================================

  def demographic(clientes: DataFrame, startDate: String, endDate: String): DataFrame = {
    // month scaffold (:64-84) + scaffold join (:94-116)
    val scaffold = Dates.monthScaffold(clientes, startDate, endDate)
    val joined = Joins.scaffoldJoin(
      Filters.validIds(clientes, "id_cliente"), scaffold,
      "release_dt", "fecha_apertura")
    val ingested = joined.select(
      col("id_cliente").as("id_customer"),
      col("release_dt"),
      col("fecha_nacimiento").as("birth_date"),
      col("genero").as("gender"),
      col("estado_civil").as("marital_status"),
      col("nivel_educativo").as("educational_level"),
      col("ingresos_mensuales").as("avg_income_month"),
      col("zona_residencia").as("zone_residence"),
      col("ciudad").as("city"),
      to_date(date_format(col("fecha_apertura"), "yyyy-MM-dd"))
        .as("customer_code_creation_date"),
      col("segmento_cliente").as("segment"))
    val clean = TextNorm.normalizeTable(ingested)

    // categorical rollups (:170-195)
    val categorized = clean.withColumns(Map(
      "educational_lvl1" -> expr(
        """CASE WHEN educational_level IN ('universitario', 'postgrado') THEN 'superior'
          |WHEN educational_level IN ('secundaria', 'primaria') THEN educational_level
          |ELSE 'ninguna' END""".stripMargin),
      "marital_status_lvl1" -> expr(
        """CASE WHEN marital_status IN ('divorciado', 'soltero') THEN 'soltero'
          |WHEN marital_status NOT IN ('divorciado', 'soltero') THEN 'casado'
          |ELSE NULL END""".stripMargin)))
      .withColumnsRenamed(Map(
        "educational_level" -> "educational_lvl2",
        "marital_status" -> "marital_status_lvl2"))

    // temporal feature (:230-243)
    val timed = categorized.withColumn("cust_code_creation_time_months",
      Dates.monthsBetweenRounded(col("release_dt"),
        date_trunc("month", col("customer_code_creation_date")).cast("date")))

    // final select (:356-369): 10 features
    val features = Seq("gender", "educational_lvl1", "educational_lvl2",
      "marital_status_lvl1", "marital_status_lvl2", "avg_income_month",
      "zone_residence", "city", "segment", "cust_code_creation_time_months")
    standardize(timed, features, "cdmg_")
  }
}
