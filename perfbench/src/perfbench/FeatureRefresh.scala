package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.datagen.BankingDataGen
import graft.features.{FeatureLookup, TrainingSet}
import graft.pipelines.{Pipelines, Runner}
import graft.store.{FeatureRegistry, FeatureStore, Registration, TableStore}
import graft.validate.Validation

/** The paper's own flow, one iteration = backfill of the five feature
  * tables into an empty store (`Runner.run`), a point-in-time training set
  * over all five, the one-month refresh (`Runner.run` over sources one
  * month longer: cross-check plus the upsert path), a serving lookup per
  * table, and a metadata, point and time-travel read of one table.
  *
  * Inputs: `Customers` customers drawn by the seed from a pool 5/4 as
  * large (`BankingDataGen`, 24 months), the same customers' 25th month,
  * and a label frame of customers x `LabelDates`. */
final class FeatureRefresh(ctx: Ctx) extends Workload {
  import ctx.spark

  val Customers = 250
  val LabelDates = Seq("2023-08-15", "2023-11-15", "2024-02-15", "2024-05-15")
  val StartDate = "2023-01-01"
  val BackfillEnd = BankingDataGen.AnchorMonth // 2024-07-01
  val RefreshEnd = "2024-08-01"
  /** The table the per-iteration store reads go to: one row per customer
    * and month, so a point read returns 25 rows after the refresh. */
  val ReadTable = "fs_cus_transactions"

  /** (table, pipeline name, pipeline over (sources, end date)) in
    * `Runner.run` order. */
  private val tables: Seq[(String, String, (Map[String, DataFrame], String) => DataFrame)] = Seq(
    ("fs_cus_demographic", "demographic",
      (s, end) => Pipelines.demographic(s("clientes"), StartDate, end)),
    ("fs_cus_credit_risk", "credit_risk", (s, _) => Pipelines.creditRisk(s("buro_credito"))),
    ("fs_cus_holding_products", "holding_products",
      (s, _) => Pipelines.holdingProducts(s("productos"))),
    ("fs_cus_payment_behavior", "payment_behavior",
      (s, _) => Pipelines.paymentBehavior(s("pagos"))),
    ("fs_cus_transactions", "transactions", (s, _) => Pipelines.transactions(s("transacciones"))))

  private var src24: Map[String, DataFrame] = Map.empty
  private var src25: Map[String, DataFrame] = Map.empty
  private var labels: DataFrame = _
  private var labelRows = 0L
  private var customer = 0L
  private var expected24: Map[String, Long] = Map.empty
  private var expected25: Map[String, Long] = Map.empty
  private var last: Option[(TableStore, FeatureRegistry)] = None
  private var storeLeg: Option[StoreIngest] = None

  /** The flow is a scheduled batch job that runs in a fresh process, so
    * its first, cold iteration is the one measured. */
  override def warmups: Int = 0

  def setup(): Unit = {
    import spark.implicits._
    val pool = Customers * 5 / 4
    val ids = spark.range(1, pool + 1).orderBy(xxhash64(col("id"), lit(ctx.seed)), col("id"))
      .limit(Customers).as[Long].collect()
    def pick(df: DataFrame): DataFrame = df.where(col("id_cliente").isin(ids: _*))
    val old = BankingDataGen.all(spark, pool, 24)
    val grown = BankingDataGen.all(spark, pool, 25)
    // the 25th month comes from the longer generation; the history a
    // refresh sees is exactly the history the backfill saved
    val newMonth: Map[String, Column] = Map(
      "pagos" -> (col("periodo") === "2024-08"),
      "buro_credito" -> (col("periodo") === "2024-08"),
      "transacciones" -> (col("periodo") === "2024-08"),
      "productos" -> (col("fecha") === lit(RefreshEnd).cast("timestamp")))
    src25 = old.map { case (k, df) =>
      k -> ctx.pin(newMonth.get(k).fold(pick(df))(p =>
        pick(df).unionByName(pick(grown(k)).where(p))), s"src_$k")
    }
    src24 = src25.map { case (k, df) => k -> newMonth.get(k).fold(df)(p => df.where(!p)) }
    labels = ctx.pin(ids.toSeq.flatMap(id => LabelDates.map(d => (id.toInt, java.sql.Date.valueOf(d))))
      .toDF("pk_customer", "label_dt"), "labels")
    labelRows = labels.count()
    customer = ids.head
  }

  private def params(end: String, reg: FeatureRegistry) =
    Runner.Params(startDate = StartDate, endDate = end, registry = Some(reg))

  /** Order-independent content hash (rows, sum of row hashes, latest
    * snapshot month) of each frame, all in one job. */
  private def contentHashes(dfs: Seq[DataFrame]): Seq[(Long, Any, Any)] = {
    val rows = dfs.zipWithIndex.map { case (df, j) =>
      df.agg(lit(j).as("j"), count(lit(1)).as("n"),
        sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")).as("h"),
        max("tpk_release_dt").as("m"))
    }.reduce(_ unionByName _).collect().map(r => r.getInt(0) -> (r.getLong(1), r.get(2), r.get(3)))
      .toMap
    dfs.indices.map(rows)
  }

  /** Expected table sizes from the sources alone, for both source sets in
    * one job: one row per customer and month (demographic: per scaffold
    * month from the customer's account opening on). */
  private def expectedRows(): (Map[String, Long], Map[String, Long]) = {
    import spark.implicits._
    def perMonth(df: DataFrame, month: Column) = df.select(col("id_cliente"), month).distinct()
    def sizes(src: Map[String, DataFrame], end: String) = {
      val months = Seq(0).toDF("x").select(explode(sequence(lit(StartDate).cast("date"),
        lit(end).cast("date"), expr("interval 1 month"))).as("release_dt"))
      Seq(
        "fs_cus_demographic" -> src("clientes").crossJoin(months)
          .where(col("release_dt") >= col("fecha_apertura")),
        "fs_cus_credit_risk" -> perMonth(src("buro_credito"), col("periodo")),
        "fs_cus_holding_products" -> perMonth(src("productos"), date_trunc("month", col("fecha"))),
        "fs_cus_payment_behavior" -> perMonth(src("pagos"), col("periodo")),
        "fs_cus_transactions" -> perMonth(src("transacciones"), col("periodo")))
        .map { case (t, df) => df.agg(lit(end).as("end"), lit(t).as("t"), count(lit(1)).as("n")) }
    }
    val all = (sizes(src24, BackfillEnd) ++ sizes(src25, RefreshEnd)).reduce(_ unionByName _)
      .as[(String, String, Long)].collect()
    def of(end: String) = all.collect { case (`end`, t, n) => t -> n }.toMap
    (of(BackfillEnd), of(RefreshEnd))
  }

  def iterate(i: Int): Unit = {
    val root = ctx.work.resolve(s"feature_refresh/iter$i")
    Disk.deleteTree(root)
    val store = new TableStore(spark, root.resolve("store").toString)
    val reg = new FeatureRegistry(spark, root.resolve("registry").toString)

    val backfill = ctx.op("pipelines.backfill") {
      Runner.run(spark, src24, store, params(BackfillEnd, reg))
    }
    // the state each backfill commit recorded, for the time-travel reads
    val committed = backfill.map(_.table)
      .zip(contentHashes(backfill.map(r => store.read(r.table)))).toMap
    val training = ctx.op("features.training_set") {
      val lookups = tables.zipWithIndex.map { case ((t, _, _), j) =>
        FeatureLookup(store.read(t), Seq("pk_customer"), "tpk_release_dt", prefix = s"f${j}_")
      }
      val ts = TrainingSet.build(labels, "label_dt", lookups)
      (ctx.materialize(ts), ts)
    }
    val refresh = ctx.op("pipelines.refresh") {
      Runner.run(spark, src25, store, params(RefreshEnd, reg))
    }
    val served = ctx.op("features.serving_lookup") {
      tables.map { case (t, _, _) =>
        ctx.materialize(TrainingSet.servingLookup(store.read(t), Seq("pk_customer"),
          "tpk_release_dt", RefreshEnd, maxStalenessDays = 62))
      }
    }
    // store reads on one feature table: metadata, one customer's rows, and
    // the backfill version by time travel (named apart from the store
    // leg's reads of its own table)
    val meta = ctx.op("store.fs_meta")(store.meta(ReadTable))
    val point = ctx.op("store.fs_read") {
      store.read(ReadTable).where(col("pk_customer") === customer).collect().length
    }
    val bfVersion = backfill.find(_.table == ReadTable).get.version
    val travelled = ctx.op("store.fs_read_version") {
      contentHashes(Seq(store.readVersion(ReadTable, bfVersion))).head
    }

    // output checks, after the timed calls
    if (expected24.isEmpty) {
      val (e24, e25) = expectedRows()
      expected24 = e24
      expected25 = e25
    }
    backfill.foreach { r =>
      ctx.check(r.validationPassed && r.rows == expected24(r.table),
        s"backfill ${r.table}: ${r.rows} rows, expected ${expected24(r.table)}")
    }
    ctx.check(training._1 == labelRows,
      s"training set has ${training._1} rows, labels have $labelRows")
    val late = tables.indices.map(j => col(s"f${j}_tpk_release_dt") > col("label_dt"))
      .reduce(_ || _)
    ctx.check(training._2.where(late).isEmpty,
      "training set matched a snapshot later than its label time")
    refresh.foreach { r =>
      ctx.check(r.validationPassed && r.rows == expected25(r.table),
        s"refresh ${r.table}: ${r.rows} rows, expected ${expected25(r.table)}")
    }
    ctx.check(travelled == committed(ReadTable),
      s"version $bfVersion of $ReadTable reads $travelled, committed ${committed(ReadTable)}")
    // the months the backfill saved are exactly as saved after the refresh
    val kept = contentHashes(backfill.map { r =>
      store.read(r.table).where(col("tpk_release_dt") <= lit(committed(r.table)._3))
    })
    backfill.zip(kept).foreach { case (r, h) =>
      ctx.check(h == committed(r.table), s"refresh changed months of ${r.table} that existed before it")
    }
    val refreshed = refresh.find(_.table == ReadTable).get.version
    ctx.check(meta.exists(_.version == refreshed),
      s"meta of $ReadTable reports ${meta.map(_.version)}, the refresh committed $refreshed")
    ctx.check(point == 25, s"point read of customer $customer found $point rows, not 25 months")
    ctx.check(served.forall(n => n > 0 && n <= Customers),
      s"serving lookup rows out of range: ${served.mkString(",")}")

    if (i > 0) Disk.deleteTree(ctx.work.resolve(s"feature_refresh/iter${i - 1}"))
    last = Some((store, reg))
  }

  /** Single-layer calls over the last iteration's store: each pipeline
    * alone (cached, as `Runner.run` caches it), the cross-check against the
    * stored table, the feature-store save (upsert path) and registration. */
  override def probe(): Unit = last.foreach { case (store, reg) =>
    tables.foreach { case (t, name, mk) =>
      val df = ctx.op(s"pipelines.$name")(ctx.pin(mk(src25, RefreshEnd), name))
      ctx.op("validate.cross_check") {
        Validation.crossCheckHistorical(df, store.read(t), "tpk_release_dt", "tpk_release_dt")
      }
      ctx.op("store.save") {
        FeatureStore.save(store, t, df, Seq("pk_customer", "tpk_release_dt"),
          Seq("tpk_release_dt"))
      }
      ctx.op("registry.register") { Registration.registerFeatureTable(store, reg, t) }
      ctx.unpin(name)
    }
    val leg = new StoreIngest(ctx)
    leg.run()
    storeLeg = Some(leg)
  }

  override def named(): Seq[(String, Double, String)] = {
    def med(op: String) = Stats.median(ctx.opSeconds.getOrElse(op, Nil).toSeq)
    Seq(("backfill_s", med("pipelines.backfill"), "s"),
      ("refresh_s", med("pipelines.refresh"), "s"),
      ("training_set_s", med("features.training_set"), "s"),
      ("serving_lookup_s", med("features.serving_lookup"), "s"),
      ("meta_s", med("store.fs_meta"), "s"), ("point_read_s", med("store.fs_read"), "s"),
      ("time_travel_s", med("store.fs_read_version"), "s")) ++ storeLeg.toSeq.flatMap(_.named())
  }
}
