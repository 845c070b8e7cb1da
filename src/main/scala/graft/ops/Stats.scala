package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pins
import graft.functions.GraftFunctions

/** Experiment analysis and resampling statistics (extension beyond the
  * reference surface — the measurement layer a feature store feeds:
  * A/B conversion readouts and bootstrap uncertainty on any metric).
  *
  * Determinism contract (same rules as [[graft.Queries]]): rates are
  * fixed-point micro-units from exact counts; the z statistic is a fixed
  * double expression over exact counts (IEEE +,-,*,/ and sqrt are
  * correctly rounded, so any engine replaying the same shape produces
  * bit-identical doubles); bootstrap weights derive from the portable
  * md5 gate ([[Filters.portableHashSample]]'s hash), so every replicate
  * is replayable by any SQL engine.
  */
object Stats {

  /** Two-proportion A/B readout: one row per variant with unit count,
    * conversions, fixed-point rate, plus — for every non-control
    * variant — the rate delta vs control (micro-units, signed) and the
    * two-proportion z statistic
    * `(p_v − p_c) / sqrt(p·(1−p)·(1/n_v + 1/n_c))` with `p` pooled.
    * Control's delta/z are null.
    *
    * Scale: one variant-keyed aggregate of the unit frame (map-side
    * combine → one row per variant); the control row rides back as a
    * broadcast single-row join. No window, no driver math. */
  def abReport(units: DataFrame, variantCol: String, convCol: String,
               controlVariant: String): DataFrame = {
    // k-variant-row aggregate, localCheckpoint'ed: it feeds BOTH the
    // output rows and the control filter — without the pin the whole
    // unit-frame aggregation runs twice
    val per = Pins.pin(units.groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).as("n_units"),
        count(when(col(convCol).cast("boolean"), 1)).as("n_conv"))
      .withColumn("rate_micros", expr("(n_conv * 1000000L) div n_units")))
    val ctrl = broadcast(per.where(col("variant") === controlVariant)
      .select(col("n_units").as("__nc"), col("n_conv").as("__cc")))
    val pooled = (col("n_conv") + col("__cc")).cast("double") /
      (col("n_units") + col("__nc")).cast("double")
    val denom = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / col("n_units").cast("double") +
        lit(1.0) / col("__nc").cast("double")))
    // degenerate pooled rate 0 or 1 (nobody / everybody converts):
    // z is undefined — emit null rather than divide by zero (ANSI)
    val z = when(denom > 0,
      (col("n_conv").cast("double") / col("n_units").cast("double") -
        col("__cc").cast("double") / col("__nc").cast("double")) / denom)
      .otherwise(lit(null).cast("double"))
    per.crossJoin(ctrl)
      .select(col("variant"), col("n_units"), col("n_conv"), col("rate_micros"),
        when(col("variant") === controlVariant, lit(null).cast("long"))
          .otherwise(col("rate_micros") -
            expr("(__cc * 1000000L) div __nc")).as("delta_micros"),
        when(col("variant") === controlVariant, lit(null).cast("double"))
          .otherwise(z).as("z_stat"))
  }

  /** Cumulative Poisson(1) thresholds scaled to 1e9 (floor): weight k is
    * drawn when the uniform lands in [cum(k−1), cum(k)). The tail is
    * capped at 8 (P(X>8|λ=1) ≈ 1e-6 — negligible bias, exact
    * determinism). Constants, not runtime libm. */
  private val PoissonCum9 = Seq(367879441L, 735758882L, 919698602L,
    981011843L, 996340153L, 999405815L, 999916758L, 999989750L)

  /** Poisson(1) bootstrap replicate table — the at-scale bootstrap: one
    * pass, no per-replicate resample-shuffle. Every (row, replicate)
    * draws an integer weight from Poisson(1) via the portable md5
    * uniform of `(keyCols…, replicate, salt)`, and each replicate's
    * weighted mean of `valueCol` is
    * `sum(w·decimal(value)) / sum(w)` — decimal-exact numerator,
    * integer denominator, one double division at the end. Output:
    * `(replicate, n_eff, wmean)`, `nReplicates` rows.
    *
    * `keyCols` must uniquely identify a row (the hash is the row's
    * resampling identity — duplicates would draw correlated weights).
    *
    * Scale: the explode multiplies rows ×R MAP-SIDE ONLY — the very next
    * operator is a replicate-keyed aggregate whose partial combine
    * collapses each partition to R rows before any exchange, so the
    * shuffle carries #partitions·R tiny partials, never the exploded
    * data. Driver holds nothing; CI summarization ([[bootstrapCI]])
    * runs over the R-row result. */
  def bootstrapReplicates(df: DataFrame, valueCol: String,
                          keyCols: Seq[String], nReplicates: Int = 32,
                          salt: Int = 42): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(nReplicates >= 2, "need nReplicates >= 2")
    // All R weights per row in ONE native kernel call (BootstrapWeights):
    // the Column form evaluated concat_ws+md5+substring+conv+when per
    // EXPLODED row (R× per input row — 9.7 s honest at sf0.1, r11's
    // slowest entry). The '|' pre-join matches concat_ws('|', keys…,
    // replicate, salt) exactly for non-null keys (keyCols are the row's
    // resampling identity and must be non-null — duplicates or nulls
    // would draw correlated weights). posexplode_OUTER, not posexplode:
    // the weights array is always length R so outer ≡ inner, but the
    // outer form keeps InferFiltersFromGenerate from planting a
    // size(__ws) > 0 filter that would re-run the kernel per row
    // (CLAUDE.md invariant 6).
    val ws = GraftFunctions.bootstrapWeights(col("__key"), nReplicates, salt.toString)
    // The kernel is CPU-bound (R md5 digests per row) behind a scan that
    // may be a single small parquet file → 1-2 input partitions running
    // the whole digest loop on one core (measured: 3 s of the entry's
    // 3.1 s at sf0.1 was single-threaded kernel time). Spread ONLY when
    // the scan is starved — at real scale the input already carries
    // thousands of partitions and the extra exchange would be pure cost.
    val spread = Scale.spreadSmallScan(
      df.select(col(valueCol).cast("decimal(18,2)").as("__v"),
        concat_ws("|", keyCols.map(col): _*).as("__key")))
    spread.select(col("__v"), ws.as("__ws"))
      .select(col("__v"),
        posexplode_outer(col("__ws")).as(Seq("replicate", "__w")))
      .groupBy("replicate")
      .agg(sum("__w").as("n_eff"),
        (sum(col("__w") * col("__v")).cast("double") /
          sum("__w").cast("double")).as("wmean"))
  }

  /** Pure-Column reference form of [[bootstrapReplicates]] — retained as
    * the differential-test twin of the [[graft.functions.BootstrapWeights]]
    * kernel (spec asserts row-identical output) and as the portable
    * documentation of the md5 gate the DuckDB oracle replays. */
  private[graft] def bootstrapReplicatesColumnForm(
      df: DataFrame, valueCol: String, keyCols: Seq[String],
      nReplicates: Int = 32, salt: Int = 42): DataFrame = {
    val u = Filters.u9(keyCols.map(col) ++ Seq(col("replicate"), lit(salt.toString)))
    val w = PoissonCum9.zipWithIndex.foldRight(lit(PoissonCum9.size): Column) {
      case ((thr, k), rest) => when(u < thr, k).otherwise(rest)
    }
    df.select(col(valueCol).cast("decimal(18,2)").as("__v") +:
        keyCols.map(col): _*)
      .withColumn("replicate",
        explode(sequence(lit(0), lit(nReplicates - 1))))
      .withColumn("__w", w.cast("long"))
      .groupBy("replicate")
      .agg(sum("__w").as("n_eff"),
        (sum(col("__w") * col("__v")).cast("double") /
          sum("__w").cast("double")).as("wmean"))
  }

  /** Chi-square test of independence between two categorical columns —
    * the CATEGORICAL drift/association gate (PSI bins numerics, KS is
    * numeric-exact; this covers category × category). One summary row
    * `(n, dof, chi2_micros, cramers_v)`.
    *
    * Fixed-point contract: expected counts are micro-units
    * `e_micros = (rowTotal·colTotal·10⁶) div n` and each cell contributes
    * `((o·10⁶ − e_micros)²) div e_micros` — exact longs/decimals with one
    * truncating division per factor, deterministic under any layout and
    * replayable by any SQL engine (no floating sums). Magnitudes stay
    * inside DECIMAL(38,0) up to ~10¹³-row inputs. Cells whose truncated
    * expectation is zero (rowTotal·colTotal < n/10⁶) are skipped — at
    * that point the chi-square approximation is meaningless anyway.
    * `cramers_v = sqrt((chi2/10⁶)/(n·min(k−1,m−1)))` as an IEEE double
    * (sqrt is correctly rounded); null for degenerate 1×m tables.
    *
    * Scale: ONE data-sized shuffle (the (a,b) contingency groupBy,
    * map-side combined to k·m cells); the marginal totals are windows
    * OVER THE AGGREGATE (dimension-sized, same pattern as
    * [[EventAnalytics.transitionMatrix]]), and the result is a scalar
    * aggregate. Nulls count as their own category on both axes. */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
      .withColumn("__ra", sum("__o").over(Window.partitionBy("__a")))
      .withColumn("__cb", sum("__o").over(Window.partitionBy("__b")))
      .withColumn("__n", sum("__o").over(Window.partitionBy()))
      .withColumn("__e", expr(
        "(CAST(__ra AS decimal(38,0)) * CAST(__cb AS decimal(38,0)) * 1000000) div CAST(__n AS decimal(38,0))"))
      .withColumn("__d", expr("CAST(__o AS decimal(38,0)) * 1000000 - __e"))
      .withColumn("__cell",
        when(col("__e") > 0, expr("(__d * __d) div __e")))
    // count_distinct excludes NULL, but the contingency cells treat NULL
    // as its own category — fold a null-indicator back in so dof and
    // cramers_v see the same category count chi2_micros summed over
    cells.agg(
        max("__n").as("n"),
        (count_distinct(col("__a")) +
          max(when(col("__a").isNull, 1L).otherwise(0L))).as("__k"),
        (count_distinct(col("__b")) +
          max(when(col("__b").isNull, 1L).otherwise(0L))).as("__m"),
        sum("__cell").cast("long").as("chi2_micros"))
      .select(col("n"),
        ((col("__k") - 1) * (col("__m") - 1)).as("dof"),
        col("chi2_micros"),
        when(least(col("__k"), col("__m")) > 1,
          sqrt((col("chi2_micros").cast("double") / lit(1e6)) /
            (col("n").cast("double") *
              (least(col("__k"), col("__m")) - lit(1L)).cast("double"))))
          .as("cramers_v"))
  }

  /** Total-variation distance between the categorical distributions of
    * two cohorts: `TVD = ½ Σ_c |p_a(c) − p_b(c)|` — the exact, bounded
    * [0,1] categorical drift metric (1 = disjoint supports). One row
    * `(n_a, n_b, tvd_micros)`, with
    * `tvd_micros = (Σ_c |c_a·n_b − c_b·n_a| · 10⁶) div (2·n_a·n_b)` —
    * the cross-product form keeps every intermediate an exact integer
    * (DECIMAL(38,0), good to ~10¹⁵-row cohorts); only the single final
    * division truncates.
    *
    * Scale: one category-keyed groupBy of the filtered frame (map-side
    * combine → one row per category), cohort totals as a window over the
    * aggregate, scalar max/sum at the end. No sort anywhere. */
  def tvDistance(df: DataFrame, catCol: String, groupCol: String,
                 aLabel: String, bLabel: String): DataFrame = {
    val per = df.where(col(groupCol).isin(aLabel, bLabel))
      .groupBy(col(catCol).as("__c"))
      .agg(count(when(col(groupCol) === aLabel, 1)).as("__ca"),
        count(when(col(groupCol) === bLabel, 1)).as("__cb"))
      .withColumn("__na", sum("__ca").over(Window.partitionBy()))
      .withColumn("__nb", sum("__cb").over(Window.partitionBy()))
    per.agg(max("__na").as("n_a"), max("__nb").as("n_b"),
        sum(expr("abs(CAST(__ca AS decimal(38,0)) * CAST(__nb AS decimal(38,0)) - CAST(__cb AS decimal(38,0)) * CAST(__na AS decimal(38,0)))"))
          .as("__s"))
      .select(col("n_a"), col("n_b"),
        // an absent cohort label -> null distance, not a divide-by-zero
        when(col("n_a") > 0 && col("n_b") > 0,
          expr("CAST((__s * 1000000) div (2 * CAST(n_a AS decimal(38,0)) * CAST(n_b AS decimal(38,0))) AS bigint)"))
          .as("tvd_micros"))
  }

  /** Sign-decomposed truncating division in SQL: `sign(a)·(|a| div b)`.
    * Spark's `div` truncates toward zero while DuckDB's `//` floors —
    * they agree ONLY on non-negative operands, so every fixed-point
    * division of a possibly-negative quantity goes through this form
    * (both engines replay it identically). `b` must be positive. */
  private def signedDiv(a: String, b: String): String =
    s"CASE WHEN ($a) >= 0 THEN ($a) div ($b) ELSE -((-($a)) div ($b)) END"

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM'13): per
    * variant the raw post-period mean and the covariate-adjusted mean
    * `mean(y) − θ·(mean_v(x) − mean(x))` with the pooled
    * `θ = Cov(x,y)/Var(x)`, everything in fixed-point micro-currency —
    * θ itself is `(10⁶·(n·Σxy − Σx·Σy)) div (n·Σx² − (Σx)²)` over exact
    * cent-scaled DECIMAL(38,0) sums (sign-decomposed division, see
    * [[signedDiv]]), so the whole readout is integer-exact, layout-
    * independent, and replayable by any SQL engine. Output: one row per
    * variant `(variant, n_units, mean_micros, adj_mean_micros,
    * theta_micros, adj_delta_micros)` — delta vs control on the ADJUSTED
    * means, null for the control row and for degenerate Var(x)=0.
    *
    * Scale: ONE unit-keyed aggregate for the moment sums (map-side
    * combine → one global row + k variant rows, computed in the same
    * pass via a grouping on variant); the 1-row global moments and the
    * control row ride back as broadcasts. No window, no driver math. */
  def cupedReport(units: DataFrame, variantCol: String, preCol: String,
                  postCol: String, controlVariant: String): DataFrame = {
    val d0 = "decimal(38,0)"
    val xc = expr(s"CAST(CAST($preCol AS decimal(18,2)) * 100 AS $d0)")
    val yc = expr(s"CAST(CAST($postCol AS decimal(18,2)) * 100 AS $d0)")
    val base = units.select(col(variantCol).as("variant"),
      xc.as("__x"), yc.as("__y"))
    // k variant rows; feeds the output rows, the global-moment rollup,
    // and the control filter — pin it once (CLAUDE.md invariant 7)
    val per = Pins.pin(base.groupBy("variant")
      .agg(count(lit(1)).as("n_units"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(expr("__x * __y")).as("__sxy"),
        sum(expr("__x * __x")).as("__sxx")))
    val glob = broadcast(per.agg(
        sum("n_units").cast(d0).as("__n"), sum("__sx").as("__gx"),
        sum("__sy").as("__gy"), sum("__sxy").as("__gxy"),
        sum("__sxx").as("__gxx"))
      .withColumn("__varx", expr("__n * __gxx - __gx * __gx"))
      .withColumn("theta_micros", expr("CASE WHEN __varx > 0 THEN " +
        signedDiv("(__n * __gxy - __gx * __gy) * 1000000", "__varx") +
        " END").cast("long"))
      .withColumn("__gmx", expr(s"(__gx * 10000) div __n"))
      .select("__n", "__gmx", "theta_micros"))
    val adj = Pins.pin(per.crossJoin(glob)
      // cent sums are non-negative: plain div below; the mean DIFFERENCE
      // and the theta product are signed -> signedDiv
      .withColumn("mean_micros",
        expr(s"(__sy * 10000) div CAST(n_units AS $d0)").cast("long"))
      .withColumn("__dx",
        expr(s"(__sx * 10000) div CAST(n_units AS $d0) - __gmx"))
      .withColumn("adj_mean_micros", expr("CASE WHEN theta_micros IS NULL " +
        "THEN mean_micros ELSE mean_micros - " +
        signedDiv(s"CAST(theta_micros AS $d0) * __dx", "1000000") +
        " END").cast("long")))
    val ctrl = broadcast(adj.where(col("variant") === controlVariant)
      .select(col("adj_mean_micros").as("__ctrl_adj")))
    adj.crossJoin(ctrl)
      .select(col("variant"), col("n_units"), col("mean_micros"),
        col("adj_mean_micros"), col("theta_micros"),
        when(col("variant") === controlVariant, lit(null).cast("long"))
          .otherwise(col("adj_mean_micros") - col("__ctrl_adj"))
          .as("adj_delta_micros"))
  }

  /** Benjamini–Hochberg FDR gate over a hypothesis family: ranks the
    * micro-unit p-values ascending (unique `keyCols` tie-break), finds
    * the largest rank `k*` with `p_(i)·m ≤ i·q` — EXACT integer
    * cross-multiplication, no rational rounding — and marks the first
    * `k*` hypotheses as discoveries. Also emits the standard BH-adjusted
    * p-value `padj = min_{j≥i} (p_(j)·m) div j` (capped at 10⁶) via a
    * reverse running min. Output: one row per hypothesis
    * `(keyCols…, p_micros, p_rank, padj_micros, is_discovery)`.
    *
    * Scale: the family table is metric-dimension-sized, but the plan
    * never assumes it — ranks are [[Scale.sliceRank]] over
    * [[Scale.rangeSlices]] (sorted) + [[Scale.sliceOffsets]], and padj's
    * suffix min is the same scan reversed: a slice-local reverse min plus
    * a broadcast min over the later slices; the `k*` cut is a 1-row
    * aggregate broadcast back. */
  def bhDiscoveries(df: DataFrame, pMicrosCol: String, keyCols: Seq[String],
                    qMicros: Long): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(qMicros > 0 && qMicros < 1000000L, "qMicros in (0, 1e6)")
    val d0 = "decimal(38,0)"
    val sortExprs = col("__p").asc +: keyCols.map(col(_).asc)
    val sliced = Scale.rangeSlices(
      df.select(col(pMicrosCol).cast("long").as("__p") +: keyCols.map(col): _*),
      sortExprs, sorted = true)
    val ranked = Pins.pin(Scale.sliceOffsets(sliced, Seq("__rows" -> count(lit(1))))
      .withColumnRenamed("__rows_total", "__m")
      .withColumn("__rk", Scale.sliceRank(sortExprs))
      .withColumn("__term", least(lit(1000000L),
        expr(s"(CAST(__p AS $d0) * __m) div CAST(__rk AS $d0)")
          .cast("long"))))
    // suffix min of __term: partition-local reverse min + broadcast min
    // of every LATER partition's total min
    val partMins = broadcast(ranked.groupBy("__part")
      .agg(min("__term").as("__tmin"))
      .withColumn("__later", min("__tmin").over(
        Window.orderBy(col("__part").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("__part", "__later"))
    val revLocal = Window.partitionBy("__part").orderBy(col("__rk").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withAdj = ranked.join(partMins, Seq("__part"))
      .withColumn("padj_micros",
        least(min("__term").over(revLocal), coalesce(col("__later"),
          lit(Long.MaxValue))).cast("long"))
    // k* = max rank whose hypothesis passes p·m <= rank·q
    val kStar = broadcast(withAdj
      .agg(coalesce(max(when(
          expr(s"CAST(__p AS $d0) * __m <= CAST(__rk AS $d0) * $qMicros"),
          col("__rk"))), lit(0L)).as("__kstar")))
    withAdj.crossJoin(kStar)
      .select(keyCols.map(col) ++ Seq(col("__p").as("p_micros"),
        col("__rk").as("p_rank"), col("padj_micros"),
        (col("__rk") <= col("__kstar")).as("is_discovery")): _*)
  }

  /** Isotonic (PAVA) calibration over a binned reliability table
    * `(binCol ascending, wCol = bin size, posCol = bin positives)` — the
    * monotone-calibrated probability per bin, the fit that turns a raw
    * classifier score into a trustworthy curation threshold. One row per
    * input bin: `(bin, n, pos, rate_micros, iso_micros)` with
    * `iso_micros` non-decreasing in bin order. Pool-adjacent-violators
    * runs with EXACT BigInt cross-multiplied mean comparisons and the
    * pooled rate is `(Σpos·10⁶) div (Σw)` — one truncating division per
    * block, so the fit is deterministic and replayable by a SQL engine
    * through the minimax identity
    * `iso(i) = max_{j≤i} min_{k≥i} mean[j..k]` (exact for rationals).
    *
    * Scale: ONE bin-keyed aggregate produces the table (callers bin the
    * corpus first — e.g. [[graft.text.Classifier.calibrationTable]]);
    * PAVA folds on the DRIVER over the BIN dimension (≤ a few hundred
    * rows — the [[EventAnalytics.kaplanMeier]] bounded-driver-state
    * contract), never over data. */
  def isotonicCalibration(bins: DataFrame, binCol: String, wCol: String,
                          posCol: String): DataFrame = {
    val spark = bins.sparkSession
    import spark.implicits._
    val rows = bins
      .select(col(binCol).cast("long"), col(wCol).cast("long"),
        col(posCol).cast("long"))
      .where(col(wCol) > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    final case class Block(s: BigInt, w: BigInt,
                           members: List[(Long, Long, Long)])
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    for ((b, w, p) <- rows) {
      var cur = Block(BigInt(p), BigInt(w), List((b, w, p)))
      // violation: previous block mean STRICTLY above the current —
      // exact cross-multiplied comparison, no rational rounding
      while (stack.nonEmpty &&
          stack.last.s * cur.w > cur.s * stack.last.w) {
        val prev = stack.remove(stack.length - 1)
        cur = Block(prev.s + cur.s, prev.w + cur.w, prev.members ::: cur.members)
      }
      stack += cur
    }
    val out = stack.toList.flatMap { blk =>
      val iso = (blk.s * 1000000 / blk.w).toLong
      blk.members.map { case (b, w, p) =>
        (b, w, p, (BigInt(p) * 1000000 / w).toLong, iso)
      }
    }
    out.toDF("bin", "n", "pos", "rate_micros", "iso_micros")
  }

  /** Difference-in-differences readout — the quasi-experimental estimate
    * when randomization isn't available: `(post_T − pre_T) −
    * (post_C − pre_C)` over per-cell truncated fixed-point means
    * (micro-currency from cent-exact DECIMAL sums; subtraction AFTER
    * each non-negative division keeps Spark/DuckDB agreement). One row:
    * the four cell counts, the four cell means, and `did_micros` (null
    * if any cell is empty).
    *
    * Scale: ONE conditional scalar aggregate — eight map-side-combined
    * accumulators, no shuffle beyond the 1-row rollup, no window. */
  def diffInDiff(df: DataFrame, treatCol: String, postCol: String,
                 valueCol: String): DataFrame = {
    val d0 = "decimal(38,0)"
    val t = col(treatCol).cast("boolean")
    val p = col(postCol).cast("boolean")
    val cents = expr(s"CAST(CAST($valueCol AS decimal(18,2)) * 100 AS $d0)")
    def cell(name: String, cond: Column): Seq[(String, Column)] = Seq(
      s"n_$name" -> count(when(cond, 1)),
      s"__s_$name" -> sum(when(cond, cents)))
    val cells = cell("treat_pre", t && !p) ++ cell("treat_post", t && p) ++
      cell("ctrl_pre", !t && !p) ++ cell("ctrl_post", !t && p)
    val agged = df.agg(cells.head._2.as(cells.head._1),
      cells.tail.map { case (n, c) => c.as(n) }: _*)
    def mean(name: String): Column =
      when(col(s"n_$name") > 0,
        expr(s"(__s_$name * 10000) div CAST(n_$name AS $d0)"))
        .cast("long").as(s"mean_${name}_micros")
    agged.select(
      col("n_treat_pre"), col("n_treat_post"),
      col("n_ctrl_pre"), col("n_ctrl_post"),
      mean("treat_pre"), mean("treat_post"),
      mean("ctrl_pre"), mean("ctrl_post"))
      .withColumn("did_micros",
        (col("mean_treat_post_micros") - col("mean_treat_pre_micros")
          - (col("mean_ctrl_post_micros") - col("mean_ctrl_pre_micros")))
          .cast("long"))
  }

  /** Gini concentration coefficient of a non-negative value column —
    * "how unequal is the spend / token-count / document-length
    * distribution" — exactly, WITHOUT a global sort of the data. The
    * value-distinct aggregate collapses the corpus to one row per
    * distinct value (map-side combine), a prefix sum over value buckets
    * orders the value dimension, and the tied-block rank-sum
    * identity `Σ_block i = c·prev + c(c+1)/2` keeps every term integral:
    * `G = (2·Σ x·ranksum(x) − (n+1)·Σx·c) / (n·Σx·c)` in cent-scaled
    * DECIMAL(38,0), one truncating micro-unit division at the end.
    * Output: one row `(n, total_cents, gini_micros)`; null gini for
    * empty input or an all-zero total.
    *
    * Scale: same contract as [[graft.features.Features.ksStatistic]] —
    * two exchanges over the value-DISTINCT table (pinned once: it feeds
    * the bounds, offsets and cumsum subtrees), [[Scale.orderedBuckets]] +
    * [[Scale.sliceOffsets]] prefix sums, scalar rollup. */
  def giniCoefficient(df: DataFrame, valueCol: String): DataFrame = {
    val v = centsCounts(df, valueCol, col("__v") >= 0)
      .withColumn("__c", col("__c").cast("decimal(38,0)"))
    Scale.cumulativeCounts(Scale.orderedBuckets(Pins.pin(v), "__v"),
        Seq(("__cum", "__c", col("__c"))))
      .withColumn("__prev", col("__cum") - col("__c"))
      .withColumn("__ranksum",
        expr("__c * __prev + (__c * (__c + 1)) div 2"))
      .agg(sum("__c").as("__n"), sum(expr("__v * __c")).as("__t"),
        sum(expr("__v * __ranksum")).as("__rs"))
      .select(coalesce(col("__n"), lit(0)).cast("long").as("n"),
        coalesce(col("__t"), lit(0)).cast("long").as("total_cents"),
        expr("CASE WHEN __n > 0 AND __t > 0 THEN " +
          "((2 * __rs - (__n + 1) * __t) * 1000000) div (__n * __t) " +
          "END").cast("long").as("gini_micros"))
  }

  /** Exact Lorenz curve table — the plottable companion to
    * [[giniCoefficient]]: for each decile `d`, the exact share of total
    * value held by the poorest `⌈d·n/10⌉` rows. Boundary deciles that
    * land inside a tied-value block subtract the excess exactly
    * (`wealth_d = cumw − (cum − k_d)·v` — every tied row carries the
    * same v, so the partial block is exact integer arithmetic). Output:
    * 10 rows `(decile, n_cum, wealth_share_micros)`, non-decreasing and
    * convex; a one-holder distribution reads 0 until the holder's
    * decile, perfect equality reads `k_d/n`.
    *
    * Scale: the [[giniCoefficient]] topology — value-distinct aggregate,
    * prefix sums of count AND wealth, then a 10-row broadcast decile dim
    * joined on the boundary condition; one row matches per decile. */
  def lorenzCurve(df: DataFrame, valueCol: String): DataFrame = {
    val v = centsCounts(df, valueCol, col("__v") >= 0)
      .withColumn("__c", col("__c").cast("decimal(38,0)"))
    val cum = Scale.cumulativeCounts(Scale.orderedBuckets(Pins.pin(v), "__v"),
      Seq(("__cum", "__c", col("__c")), ("__cumw", "__w", expr("__v * __c"))))
    val deciles = broadcast(
      df.sparkSession.range(1, 11).select(col("id").cast("int").as("decile")))
    cum.join(deciles,
        expr("__cum >= (decile * __c_total + 9) div 10 AND " +
          "__cum - __c < (decile * __c_total + 9) div 10"))
      .select(col("decile"),
        expr("CAST((decile * __c_total + 9) div 10 AS bigint)").as("n_cum"),
        expr("CASE WHEN __w_total > 0 THEN CAST(((__cumw - " +
          "(__cum - (decile * __c_total + 9) div 10) * __v) * 1000000) div __w_total " +
          "AS bigint) END").as("wealth_share_micros"))
  }

  /** The value-distinct count table `(__v, __c)` of `valueCol` in exact
    * cents: `__v = CAST(CAST(v AS decimal(18,2))·100 AS decimal(38,0))`,
    * the rows `keep` admits (a predicate on `__v`), one `count` per
    * distinct value — the map-side-combined input of every value-bucket
    * prefix sum. */
  private[graft] def centsCounts(df: DataFrame, valueCol: String,
                                 keep: Column): DataFrame =
    df.select(
        expr(s"CAST(CAST($valueCol AS decimal(18,2)) * 100 AS decimal(38,0))").as("__v"))
      .where(keep)
      .groupBy("__v").agg(count(lit(1)).as("__c"))

  /** Percentile CI over a replicate table: nearest-rank lo/hi quantiles
    * of `wmean` plus their mean — a 1-row summary of
    * [[bootstrapReplicates]] (the sort runs over R rows, not data). */
  def bootstrapCI(replicates: DataFrame, level: Double = 0.95): DataFrame = {
    require(level > 0 && level < 1, "level in (0,1)")
    val lo = (1.0 - level) / 2.0
    val ranked = replicates
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("wmean"))))
      .crossJoin(broadcast(replicates.select(count(lit(1)).as("__n"))))
    ranked.agg(
      avg(col("wmean")).as("boot_mean"),
      max(when(col("__rk") === greatest(ceil(lit(lo) * col("__n")), lit(1)),
        col("wmean"))).as("ci_lo"),
      max(when(col("__rk") === ceil(lit(1.0 - lo) * col("__n")),
        col("wmean"))).as("ci_hi"))
  }
}
