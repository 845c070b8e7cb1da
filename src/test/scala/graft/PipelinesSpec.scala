package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.datagen.BankingDataGen
import graft.pipelines.Pipelines

class PipelinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val sources = BankingDataGen.all(spark, n = 60, months = 24)
    .map { case (k, v) => k -> v.cache() }

  private def assertContract(df: org.apache.spark.sql.DataFrame,
                             prefix: String, nFeatures: Int): Unit = {
    assert(df.columns.take(2).toSeq == Seq("pk_customer", "tpk_release_dt"))
    assert(df.columns.length == nFeatures + 2, df.columns.mkString(","))
    assert(df.columns.drop(2).forall(_.startsWith(prefix)))
    // coercions applied: no LongType, no DecimalType anywhere (utils.py:538-564)
    assert(!df.schema.fields.exists(f =>
      f.dataType == LongType || f.dataType.isInstanceOf[DecimalType]))
    // time-series key: one row per (customer, month)
    assert(df.groupBy("pk_customer", "tpk_release_dt").count()
      .where($"count" > 1).isEmpty)
    assert(df.count() > 0)
  }

  test("transactions pipeline: 20 ctrx_ features, PK contract, coercions") {
    assertContract(Pipelines.transactions(sources("transacciones")), "ctrx_", 20)
  }

  test("credit risk pipeline: 22 chr_ features") {
    assertContract(Pipelines.creditRisk(sources("buro_credito")), "chr_", 22)
  }

  test("payment behavior pipeline: 37 cpym_ features") {
    assertContract(Pipelines.paymentBehavior(sources("pagos")), "cpym_", 37)
  }

  test("holding products pipeline: 65 chp_ features") {
    assertContract(Pipelines.holdingProducts(sources("productos")), "chp_", 65)
  }

  test("demographic pipeline: 10 cdmg_ features") {
    assertContract(
      Pipelines.demographic(sources("clientes"), "2023-01-01", BankingDataGen.AnchorMonth),
      "cdmg_", 10)
  }

  // Golden values from the reference docstring example
  // (`fs_cus_transactions.py:568-584`): the only reference-authored
  // expected outputs (SURVEY §5).
  test("transactions golden example from the reference docstring") {
    val input = Seq(
      (1001L, "2024-01", 15L, 75000.0, 2L),
      (1001L, "2024-02", 20L, 100000.0, 1L),
      (1002L, "2024-01", 8L, 40000.0, 5L))
      .toDF("id_cliente", "periodo", "numero_transacciones",
        "monto_total_transacciones", "recencia_ultima_transaccion")
    val out = Pipelines.transactions(input)
      .orderBy("pk_customer", "tpk_release_dt")
    val rows = out.select("pk_customer", "ctrx_trx_cnt_m", "ctrx_amt_trx_sum_m",
      "ctrx_amt_trx_sum_m_to_trx_cnt_m_ratio").collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3))).toSeq ==
      Seq((1001, 15, 75000.0, 5000.0), (1001, 20, 100000.0, 5000.0),
        (1002, 8, 40000.0, 5000.0)))
    // release shift: 2024-01 data observable at 2024-02
    assert(out.select("tpk_release_dt").as[java.sql.Date].collect()
      .map(_.toString).toSeq == Seq("2024-02-01", "2024-03-01", "2024-02-01"))
  }

  test("credit risk golden example from the reference docstring (:522-538)") {
    val input = Seq(
      (1001L, "2024-01", "A", 750, 3, 850.0),
      (1001L, "2024-02", "A", 760, 2, 850.0),
      (1002L, "2024-01", "C", 680, 5, 915.0))
      .toDF("id_cliente", "periodo", "calificacion_sistema", "buro_score",
        "consultas_buro_12m", "deuda_total_bancos")
    val out = Pipelines.creditRisk(input).orderBy("pk_customer", "tpk_release_dt")
    val rows = out.select("pk_customer", "chr_credits_cnt", "chr_bureau_score_sum",
      "chr_rating_num", "chr_bureau_score_sum_ravg_3m",
      "chr_total_banking_debt_sum_to_bureau_score_sum_ratio").collect()
    // customer 1001 month2: ravg over {750, 760} = 755; ratio = 850/760 = 1.1184
    assert(rows(0).getInt(1) == 1 && rows(0).getInt(2) == 750 && rows(0).getInt(3) == 1)
    assert(rows(1).getDouble(4) == 755.0)
    assert(rows(1).getDouble(5) == math.floor(850.0 / 760 * 10000 + 0.5) / 10000 ||
      rows(1).getDouble(5) == BigDecimal(850.0 / 760).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(rows(2).getInt(2) == 680 && rows(2).getInt(3) == 3)
  }

  // Differential oracle for the full transactions pipeline: an independent
  // hand-written Spark-SQL formulation of all 22 columns must match the
  // operator-kit DataFrame implementation EXACTLY (same engine, so
  // rounding/stddev semantics cancel out — this catches wiring bugs in the
  // agg/ratio/rolling/standardize composition).
  test("transactions pipeline matches an independent SQL formulation") {
    val trx = sources("transacciones")
    trx.createOrReplaceTempView("trx_diff_src")
    val rollCols = Seq("trx_cnt_m", "amt_trx_sum_m", "last_transaction_recall_sum_m",
      "amt_trx_sum_m_to_trx_cnt_m_ratio")
    val rollSelect = rollCols.flatMap { c => Seq(3, 6).flatMap { n =>
      val frame = s"w$n"
      Seq(s"round(avg($c) OVER $frame, 4) AS ${c}_ravg_${n}m",
        s"round(stddev($c) OVER $frame, 4) AS ${c}_rstd_${n}m")
    }}.mkString(",\n")
    val sqlForm = spark.sql(
      s"""WITH ingested AS (
         |  SELECT id_cliente AS id_customer,
         |         add_months(trunc(to_date(periodo, 'yyyy-MM'), 'MM'), 1) AS release_dt,
         |         numero_transacciones AS trx_cnt,
         |         monto_total_transacciones AS amt_trx,
         |         recencia_ultima_transaccion AS last_transaction_recall
         |  FROM trx_diff_src
         |  WHERE id_cliente IS NOT NULL AND id_cliente != '999999999'),
         |agged AS (
         |  SELECT id_customer, release_dt,
         |         sum(trx_cnt) AS trx_cnt_m,
         |         sum(amt_trx) AS amt_trx_sum_m,
         |         sum(last_transaction_recall) AS last_transaction_recall_sum_m
         |  FROM ingested GROUP BY 1, 2),
         |ratio AS (
         |  SELECT *, CASE WHEN trx_cnt_m != 0
         |    THEN round(amt_trx_sum_m / trx_cnt_m, 4) END
         |    AS amt_trx_sum_m_to_trx_cnt_m_ratio FROM agged),
         |rolled AS (
         |  SELECT *, $rollSelect
         |  FROM ratio
         |  WINDOW w3 AS (PARTITION BY id_customer ORDER BY release_dt
         |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         |         w6 AS (PARTITION BY id_customer ORDER BY release_dt
         |                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         |SELECT CAST(id_customer AS INT) AS pk_customer,
         |  release_dt AS tpk_release_dt,
         |  CAST(trx_cnt_m AS INT) AS ctrx_trx_cnt_m,
         |  amt_trx_sum_m AS ctrx_amt_trx_sum_m,
         |  CAST(last_transaction_recall_sum_m AS INT) AS ctrx_last_transaction_recall_sum_m,
         |  amt_trx_sum_m_to_trx_cnt_m_ratio AS ctrx_amt_trx_sum_m_to_trx_cnt_m_ratio,
         |  ${rollCols.flatMap(c => Seq(3, 6).flatMap(n =>
              Seq(s"${c}_ravg_${n}m AS ctrx_${c}_ravg_${n}m",
                  s"${c}_rstd_${n}m AS ctrx_${c}_rstd_${n}m"))).mkString(", ")}
         |FROM rolled""".stripMargin)
    val dfForm = Pipelines.transactions(trx)
    assert(dfForm.columns.toSeq == sqlForm.columns.toSeq)
    assert(dfForm.count() == sqlForm.count())
    assert(dfForm.exceptAll(sqlForm).isEmpty && sqlForm.exceptAll(dfForm).isEmpty)
  }

  // Same differential for the most intricate pipeline: holding-products
  // (conditional pivot + LIT indicators + 13-column rolling block).
  test("holding products pipeline matches an independent SQL formulation") {
    val prods = sources("productos")
    prods.createOrReplaceTempView("prod_diff_src")
    val cats = Seq("credito_vehicular" -> "vehicle_loan",
      "credito_hipotecario" -> "mortgage_loan",
      "tarjeta_de_credito" -> "credit_card",
      "credito_productivo" -> "productive_credit")
    val pivotSql = cats.map { case (v, r) =>
      s"""sum(CASE WHEN product = '$v' THEN amount ELSE 0 END) AS ${r}_amount_sum_m,
         |sum(CASE WHEN product = '$v' THEN 1 ELSE 0 END) > 0 AS ind_${r}_product""".stripMargin
    }.mkString(",\n")
    val numeric = cats.map(c => s"${c._2}_amount_sum_m") ++
      Seq("amount_sum_m", "amount_avg_m", "amount_min_m", "amount_max_m")
    val categorical = cats.map(c => s"ind_${c._2}_product") :+ "products_cnt_m"
    val rollSql = (numeric.flatMap { c => Seq(3, 6).flatMap { n =>
      Seq(s"round(avg($c) OVER w$n, 4) AS ${c}_ravg_${n}m",
        s"round(stddev($c) OVER w$n, 4) AS ${c}_rstd_${n}m") } } ++
      categorical.flatMap { c => Seq(3, 6).flatMap { n =>
        Seq(s"min($c) OVER w$n AS ${c}_rmin_${n}m",
          s"max($c) OVER w$n AS ${c}_rmax_${n}m") } }).mkString(",\n")
    val features = cats.map(c => s"${c._2}_amount_sum_m") ++
      cats.map(c => s"ind_${c._2}_product") ++
      Seq("products_cnt_m", "amount_sum_m", "amount_avg_m", "amount_min_m", "amount_max_m") ++
      (for { c <- numeric; n <- Seq(3, 6); s <- Seq("ravg", "rstd") } yield s"${c}_${s}_${n}m") ++
      (for { c <- categorical; n <- Seq(3, 6); s <- Seq("rmin", "rmax") } yield s"${c}_${s}_${n}m")
    val featureSelect = features.map { f =>
      val coerced = if (f == "products_cnt_m") s"CAST($f AS INT)" else f
      s"$coerced AS chp_$f"
    }.mkString(",\n")
    val sqlForm = spark.sql(
      s"""WITH ingested AS (
         |  SELECT id_cliente AS id_customer,
         |         add_months(trunc(CAST(fecha AS DATE), 'MM'), 1) AS release_dt,
         |         regexp_replace(lower(trim(producto)), ' ', '_') AS product,
         |         monto AS amount, total_productos AS products_cnt
         |  FROM prod_diff_src
         |  WHERE id_cliente IS NOT NULL AND id_cliente != '999999999'
         |    AND monto IS NOT NULL),
         |agged AS (
         |  SELECT id_customer, release_dt,
         |    $pivotSql,
         |    max(products_cnt) AS products_cnt_m,
         |    sum(amount) AS amount_sum_m, avg(amount) AS amount_avg_m,
         |    min(amount) AS amount_min_m, max(amount) AS amount_max_m
         |  FROM ingested GROUP BY 1, 2),
         |rolled AS (
         |  SELECT *, $rollSql
         |  FROM agged
         |  WINDOW w3 AS (PARTITION BY id_customer ORDER BY release_dt
         |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         |         w6 AS (PARTITION BY id_customer ORDER BY release_dt
         |                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         |SELECT CAST(id_customer AS INT) AS pk_customer,
         |  release_dt AS tpk_release_dt,
         |  $featureSelect
         |FROM rolled""".stripMargin)
    val dfForm = Pipelines.holdingProducts(prods)
    assert(dfForm.columns.toSeq == sqlForm.columns.toSeq,
      dfForm.columns.toSeq.diff(sqlForm.columns.toSeq).toString)
    assert(dfForm.count() == sqlForm.count())
    assert(dfForm.exceptAll(sqlForm).isEmpty && sqlForm.exceptAll(dfForm).isEmpty)
  }

  test("credit risk pipeline matches an independent SQL formulation") {
    val buro = sources("buro_credito")
    buro.createOrReplaceTempView("buro_diff_src")
    val sums = Seq("bureau_score_sum", "total_banking_debt_sum", "bureau_inquiries_12m_sum")
    val rollSql = sums.flatMap { c => Seq(3, 6).flatMap { n =>
      Seq(s"round(avg($c) OVER w$n, 4) AS ${c}_ravg_${n}m",
        s"round(stddev($c) OVER w$n, 4) AS ${c}_rstd_${n}m") } }.mkString(",\n") +
      ",\n" + Seq(3, 6).flatMap { n =>
        Seq(s"min(rating_num) OVER w$n AS rating_num_rmin_${n}m",
          s"max(rating_num) OVER w$n AS rating_num_rmax_${n}m") }.mkString(",\n")
    val sqlForm = spark.sql(
      s"""WITH ingested AS (
         |  SELECT id_cliente AS id_customer,
         |    add_months(trunc(to_date(periodo, 'yyyy-MM'), 'MM'), 1) AS release_dt,
         |    buro_score AS bureau_score,
         |    CASE calificacion_sistema WHEN 'A' THEN 1 WHEN 'B' THEN 2 WHEN 'C' THEN 3
         |      WHEN 'D' THEN 4 WHEN 'E' THEN 5 ELSE 0 END AS rating_num,
         |    consultas_buro_12m AS bureau_inquiries_12m,
         |    deuda_total_bancos AS total_banking_debt
         |  FROM buro_diff_src
         |  WHERE id_cliente IS NOT NULL AND id_cliente != '999999999'
         |    AND buro_score IS NOT NULL AND calificacion_sistema IS NOT NULL),
         |agged AS (
         |  SELECT id_customer, release_dt, count(*) AS credits_cnt,
         |    sum(bureau_score) AS bureau_score_sum,
         |    sum(total_banking_debt) AS total_banking_debt_sum,
         |    sum(bureau_inquiries_12m) AS bureau_inquiries_12m_sum,
         |    max(rating_num) AS rating_num
         |  FROM ingested GROUP BY 1, 2),
         |rolled AS (
         |  SELECT *, $rollSql FROM agged
         |  WINDOW w3 AS (PARTITION BY id_customer ORDER BY release_dt
         |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         |         w6 AS (PARTITION BY id_customer ORDER BY release_dt
         |                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         |SELECT CAST(id_customer AS INT) AS pk_customer, release_dt AS tpk_release_dt,
         |  CAST(credits_cnt AS INT) AS chr_credits_cnt,
         |  CAST(bureau_score_sum AS INT) AS chr_bureau_score_sum,
         |  total_banking_debt_sum AS chr_total_banking_debt_sum,
         |  CAST(bureau_inquiries_12m_sum AS INT) AS chr_bureau_inquiries_12m_sum,
         |  rating_num AS chr_rating_num,
         |  ${sums.flatMap(c => Seq(3, 6).flatMap(n =>
             Seq(s"${c}_ravg_${n}m AS chr_${c}_ravg_${n}m",
                 s"${c}_rstd_${n}m AS chr_${c}_rstd_${n}m"))).mkString(", ")},
         |  ${Seq(3, 6).flatMap(n => Seq(s"rating_num_rmin_${n}m AS chr_rating_num_rmin_${n}m",
             s"rating_num_rmax_${n}m AS chr_rating_num_rmax_${n}m")).mkString(", ")},
         |  CASE WHEN bureau_score_sum != 0
         |    THEN round(total_banking_debt_sum / bureau_score_sum, 4) END
         |    AS chr_total_banking_debt_sum_to_bureau_score_sum_ratio
         |FROM rolled""".stripMargin)
    val dfForm = Pipelines.creditRisk(buro)
    assert(dfForm.columns.toSeq == sqlForm.columns.toSeq)
    assert(dfForm.exceptAll(sqlForm).isEmpty && sqlForm.exceptAll(dfForm).isEmpty)
  }

  test("demographic pipeline matches an independent SQL formulation") {
    // round-trip the source through parquet: the cached `sources` relation
    // otherwise gets plan-matched into BOTH sides of the exceptAll and
    // trips an InMemoryRelation attribute-rewrite (key not found) inside
    // Spark when the same cache appears twice
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_diff").toString
    BankingDataGen.clientes(spark, 60).write.mode("overwrite").parquet(dir)
    val cli = spark.read.parquet(dir)
    cli.createOrReplaceTempView("cli_diff_src")
    val sqlForm = spark.sql(
      s"""WITH months AS (
         |  SELECT explode(sequence(to_date('2023-01-01'), to_date('${BankingDataGen.AnchorMonth}'),
         |    interval 1 month)) AS release_dt),
         |joined AS (
         |  SELECT c.*, m.release_dt FROM cli_diff_src c CROSS JOIN months m
         |  WHERE m.release_dt >= c.fecha_apertura
         |    AND c.id_cliente IS NOT NULL AND c.id_cliente != '999999999'),
         |normed AS (
         |  SELECT id_cliente AS id_customer, release_dt,
         |    lower(trim(genero)) AS gender,
         |    lower(trim(estado_civil)) AS marital_status,
         |    lower(trim(nivel_educativo)) AS educational_level,
         |    ingresos_mensuales AS avg_income_month,
         |    lower(trim(zona_residencia)) AS zone_residence,
         |    regexp_replace(lower(trim(ciudad)), ' ', '_') AS city,
         |    to_date(date_format(fecha_apertura, 'yyyy-MM-dd')) AS creation_date,
         |    lower(trim(segmento_cliente)) AS segment
         |  FROM joined)
         |SELECT CAST(id_customer AS INT) AS pk_customer, release_dt AS tpk_release_dt,
         |  gender AS cdmg_gender,
         |  CASE WHEN educational_level IN ('universitario', 'postgrado') THEN 'superior'
         |    WHEN educational_level IN ('secundaria', 'primaria') THEN educational_level
         |    ELSE 'ninguna' END AS cdmg_educational_lvl1,
         |  educational_level AS cdmg_educational_lvl2,
         |  CASE WHEN marital_status IN ('divorciado', 'soltero') THEN 'soltero'
         |    WHEN marital_status NOT IN ('divorciado', 'soltero') THEN 'casado'
         |    ELSE NULL END AS cdmg_marital_status_lvl1,
         |  marital_status AS cdmg_marital_status_lvl2,
         |  avg_income_month AS cdmg_avg_income_month,
         |  zone_residence AS cdmg_zone_residence,
         |  city AS cdmg_city,
         |  segment AS cdmg_segment,
         |  months_between(release_dt, trunc(creation_date, 'MM'), true)
         |    AS cdmg_cust_code_creation_time_months
         |FROM normed""".stripMargin)
    val dfForm = Pipelines.demographic(cli, "2023-01-01", BankingDataGen.AnchorMonth)
    assert(dfForm.columns.toSeq == sqlForm.columns.toSeq)
    assert(dfForm.exceptAll(sqlForm).isEmpty && sqlForm.exceptAll(dfForm).isEmpty)
  }

  test("payment behavior pipeline matches an independent SQL formulation") {
    val pagos = sources("pagos")
    pagos.createOrReplaceTempView("pagos_diff_src")
    val rollNumeric = Seq("amt_total_balance_sum", "amt_paid_sum", "amt_installment_sum")
    val rollCategorical = Seq("ind_installment_paid", "ind_did_min_payment", "rating_num")
    val rollSql = (rollNumeric.flatMap { c => Seq(3, 6).flatMap { n =>
      Seq(s"round(avg($c) OVER w$n, 4) AS ${c}_ravg_${n}m",
        s"round(stddev($c) OVER w$n, 4) AS ${c}_rstd_${n}m") } } ++
      rollCategorical.flatMap { c => Seq(3, 6).flatMap { n =>
        Seq(s"min($c) OVER w$n AS ${c}_rmin_${n}m",
          s"max($c) OVER w$n AS ${c}_rmax_${n}m") } }).mkString(",\n")
    val features = Seq("credits_cnt", "amt_total_balance_sum", "amt_paid_sum",
      "amt_total_credit_sum", "amt_installment_sum", "credit_duration_in_months",
      "time_to_close_in_months", "ind_installment_paid", "ind_did_min_payment",
      "rating_num") ++
      (for { c <- rollNumeric; n <- Seq(3, 6); s <- Seq("ravg", "rstd") } yield s"${c}_${s}_${n}m") ++
      (for { c <- rollCategorical; n <- Seq(3, 6); s <- Seq("rmin", "rmax") } yield s"${c}_${s}_${n}m") ++
      Seq("amt_paid_sum_pct", "amt_total_balance_sum_pct", "time_to_close_in_months_pct")
    val intCols = Set("credits_cnt", "credit_duration_in_months", "time_to_close_in_months")
    val featureSelect = features.map { f =>
      val coerced = if (intCols(f)) s"CAST($f AS INT)" else f
      s"$coerced AS cpym_$f"
    }.mkString(",\n")
    val sqlForm = spark.sql(
      s"""WITH ingested AS (
         |  SELECT id_cliente AS id_customer,
         |    to_date(periodo, 'yyyy-MM') AS event_dt,
         |    add_months(trunc(to_date(periodo, 'yyyy-MM'), 'MM'), 1) AS release_dt,
         |    fecha_apertura AS openning_date, fecha_cierre AS closing_date,
         |    saldo_total_credito AS amt_total_balance, monto_pagado AS amt_paid,
         |    valor_total_credito AS amt_total_credit, cuota_mensual AS amt_installment,
         |    cuota_pagada AS ind_installment_paid, pago_minimo AS ind_did_min_payment,
         |    CASE calificacion_sistema WHEN 'A' THEN 1 WHEN 'B' THEN 2 WHEN 'C' THEN 3
         |      WHEN 'D' THEN 4 WHEN 'E' THEN 5 ELSE 0 END AS rating_num
         |  FROM pagos_diff_src
         |  WHERE id_cliente IS NOT NULL AND id_cliente != '999999999'
         |    AND calificacion_sistema IS NOT NULL),
         |timed AS (
         |  SELECT *,
         |    CAST(months_between(closing_date, openning_date) AS INT)
         |      AS credit_duration_in_months_raw,
         |    CAST(months_between(closing_date, event_dt) AS INT)
         |      AS time_to_close_in_months_raw
         |  FROM ingested),
         |agged AS (
         |  SELECT id_customer, release_dt, count(*) AS credits_cnt,
         |    sum(amt_total_balance) AS amt_total_balance_sum,
         |    sum(amt_paid) AS amt_paid_sum,
         |    sum(amt_total_credit) AS amt_total_credit_sum,
         |    sum(amt_installment) AS amt_installment_sum,
         |    sum(credit_duration_in_months_raw) AS credit_duration_in_months,
         |    sum(time_to_close_in_months_raw) AS time_to_close_in_months,
         |    max(ind_installment_paid) AS ind_installment_paid,
         |    max(ind_did_min_payment) AS ind_did_min_payment,
         |    max(rating_num) AS rating_num
         |  FROM timed GROUP BY 1, 2),
         |rolled AS (
         |  SELECT *, $rollSql FROM agged
         |  WINDOW w3 AS (PARTITION BY id_customer ORDER BY release_dt
         |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         |         w6 AS (PARTITION BY id_customer ORDER BY release_dt
         |                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
         |pcts AS (
         |  SELECT *,
         |    CASE WHEN amt_total_credit_sum != 0
         |      THEN round(amt_paid_sum / amt_total_credit_sum * 100, 4) END AS amt_paid_sum_pct,
         |    CASE WHEN amt_total_credit_sum != 0
         |      THEN round(amt_total_balance_sum / amt_total_credit_sum * 100, 4) END
         |      AS amt_total_balance_sum_pct,
         |    CASE WHEN credit_duration_in_months != 0
         |      THEN round(time_to_close_in_months / credit_duration_in_months * 100, 4) END
         |      AS time_to_close_in_months_pct
         |  FROM rolled)
         |SELECT CAST(id_customer AS INT) AS pk_customer, release_dt AS tpk_release_dt,
         |  $featureSelect
         |FROM pcts""".stripMargin)
    val dfForm = Pipelines.paymentBehavior(pagos)
    assert(dfForm.columns.toSeq == sqlForm.columns.toSeq,
      dfForm.columns.toSeq.diff(sqlForm.columns.toSeq).toString)
    assert(dfForm.exceptAll(sqlForm).isEmpty && sqlForm.exceptAll(dfForm).isEmpty)
  }
}
