package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-decimal second-moment statistics: per-group Pearson correlation
  * and sample covariance whose results are BIT-IDENTICAL at any
  * parallelism and in any engine.
  *
  * Built-in `corr`/`covar_samp` merge running double moments across
  * partitions — the merge order changes with partitioning, so the last
  * ulps of the result do too, and a hash-equality oracle flakes. Here the
  * five sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) are summed in
  * DECIMAL — exact, order-independent — and only the one final closed-form
  * expression runs in double, a fixed-order scalar computation replayed
  * verbatim in the oracle (the engine money-sum rule generalized to
  * second moments).
  *
  * Scale shape: ONE hash aggregation with map-side partials (five decimal
  * sums + a count per group — fixed-width buffer, HashAggregate all the
  * way); nothing else. Inputs are quantized to decimal(18,2)/(18,0) by the
  * caller-visible contract, so products fit decimal(38,*) exactly.
  */
object Stats {

  /** Per-group n, correlation, sample covariance of (x, y). `x` is
    * quantized at 2 decimals, `y` must be integral-valued (counts, hours,
    * buckets — the common profiling pairing).
    */
  def corrExact(df: DataFrame, group: Column, x: Column,
      y: Column): DataFrame = {
    val xd = x.cast("decimal(18,2)")
    val yd = y.cast("decimal(18,0)")
    df.groupBy(group.as("g"))
      .agg(count(lit(1)).as("n"),
        sum(xd).as("sx"), sum(yd).as("sy"),
        sum(xd * yd).as("sxy"),
        sum(xd * xd).as("sxx"), sum(yd * yd).as("syy"))
      .select(col("g"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy"))
             .cast("double")))).as("corr"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")).as("covar_samp"))
  }

  /** Per-group simple linear regression (y ~ x) from the same
    * decimal-exact sufficient statistics as [[corrExact]]: slope,
    * intercept, and R². Built-in `regr_slope`/`regr_intercept` merge
    * double moments in partition order (ulp-unstable); here every
    * aggregate is decimal and only the fixed-order closed forms run in
    * double — each decimal operand crosses to double exactly ONCE, and
    * R² is composed from the already-double numerator/denominators (the
    * decimal n·Σxy−ΣxΣy squared would overflow decimal(38) at corpus
    * scale). Same scale shape: ONE HashAggregate, fixed-width buffer.
    * `x` integral-valued, `y` quantized at 2 decimals.
    */
  def olsExact(df: DataFrame, group: Column, x: Column,
      y: Column): DataFrame = {
    val xd = x.cast("decimal(18,0)")
    val yd = y.cast("decimal(18,2)")
    val sNum = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val sDen = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val yDen = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = sNum / sDen
    df.groupBy(group.as("g"))
      .agg(count(lit(1)).as("n"),
        sum(xd).as("sx"), sum(yd).as("sy"),
        sum(xd * yd).as("sxy"),
        sum(xd * xd).as("sxx"), sum(yd * yd).as("syy"))
      .select(col("g"), col("n"),
        slope.as("slope"),
        ((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("n").cast("double")).as("intercept"),
        (sNum * sNum / (sDen * yDen)).as("r2"))
  }

  /** Pearson chi-square independence test over the `rowKey` × `colKey`
    * contingency table: one row (chi2, dof, n_rows, n_cells).
    *
    * Exactness discipline: observed and marginal counts are integers;
    * each cell's expected value e = r·c/n and term (o−e)²/e run a FIXED
    * chain of double ops on exactly-representable integer inputs. The
    * final Σ term would be partition-order-dependent as a plain double
    * `sum`, so the (tiny — |rows|×|cols|) term set is sorted by cell key
    * and LEFT-FOLDED inside one row (`sort_array` + `aggregate`), making
    * the statistic bit-identical at any parallelism and replayable via
    * DuckDB's `list(… ORDER BY …)` + `list_reduce` — the cosine-fold
    * discipline applied to a statistic. EMPTY cells (absent key pairs)
    * contribute (0−e)²/e like the textbook definition: the marginal
    * cross-grid is generated and left-joined, not just observed cells.
    *
    * Scale: one count aggregation over the fact; everything after runs
    * on marginal-sized frames (broadcast). dof = (R−1)(C−1).
    */
  def chiSquare(df: DataFrame, rowKey: Column, colKey: Column): DataFrame = {
    val cells = df.groupBy(rowKey.as("r"), colKey.as("c"))
      .agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(col("r")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("c")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      count_distinct(col("r")).as("nr"), count_distinct(col("c")).as("nc"))
    val grid = rt.crossJoin(ct).crossJoin(broadcast(tot))
      .join(cells, Seq("r", "c"), "left")
      .select(col("r"), col("c"), col("n"), col("nr"), col("nc"),
        coalesce(col("o"), lit(0L)).cast("double").as("od"),
        (col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double")).as("e"))
      .select(col("r"), col("c"), col("n"), col("nr"), col("nc"),
        ((col("od") - col("e")) * (col("od") - col("e")) / col("e"))
          .as("term"))
    grid.groupBy(col("n"), col("nr"), col("nc"))
      .agg(sort_array(collect_list(struct(col("r"), col("c"), col("term"))))
        .as("ts"))
      .select(
        expr("aggregate(ts, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)")
          .as("chi2"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        col("n").as("n_rows"),
        (col("nr") * col("nc")).as("n_cells"))
  }

  /** Per-group Gini coefficient of a non-negative integer metric (cents,
    * counts) over pre-aggregated per-entity rows — the concentration /
    * inequality measure (how skewed is revenue across customers, tokens
    * across sources, load across keys).
    *
    * Rank form on values sorted ascending (ties broken by `ord` so the
    * rank — though not the Gini itself, which is tie-invariant — is
    * deterministic): G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ). Both Σ run in
    * decimal(38,0) — i·x keeps 64-bit exactness per row (callers bound
    * |entities|·max(x) < 2⁶³), the sums are exact at any size, and the
    * single final division is the only double op. Oracles must cast the
    * big decimals to double VIA VARCHAR (the E39 DuckDB double-rounding
    * lesson — these numerators exceed 2⁵³).
    *
    * Shape: input is the per-entity frame (already one fact agg in the
    * caller); the rank is a per-group window sort. With few large groups
    * the sort concentrates per-group in one task — `twoLevelRank` takes
    * the rank from [[Ranks.runningByRange]] instead.
    */
  def gini(perEntity: DataFrame, group: Column, ord: Column,
      x: Column, twoLevelRank: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Window.partitionBy(group).orderBy(x.asc, ord.asc)
    val withRank =
      if (twoLevelRank) {
        // Caller contract: group/ord/x are plain column references.
        val named = perEntity
          .withColumn("_g", group).withColumn("_x", x).withColumn("_o", ord)
        Ranks.running(named, Seq("_g"), Seq("_x", "_o"), Seq("_i" -> lit(1L)))
      } else perEntity
        .withColumn("_i", row_number().over(ranked).cast("long"))
    withRank
      .groupBy(group.as("g"))
      .agg(count(lit(1)).as("n"),
        sum(x.cast("decimal(38,0)")).as("s0"),
        sum((col("_i") * x).cast("decimal(38,0)")).as("s1"))
      .select(col("g"), col("n"),
        ((lit(2).cast("decimal(38,0)") * col("s1")
          - (col("n") + 1).cast("decimal(38,0)") * col("s0")).cast("double")
          / (col("n").cast("decimal(38,0)") * col("s0")).cast("double"))
          .as("gini"))
  }

  /** Per-group bivariate Mahalanobis outlier census — the multivariate
    * step past [[graft.operators.Profile]]'s univariate MAD screen: a row
    * is anomalous when its (x, y) pair is far from the group's
    * correlation ELLIPSE, not just either marginal (a high-price order
    * with matching line count is normal; a high-price single-line order
    * is not).
    *
    * The 2×2 covariance inverts in closed form — no matrix library, no
    * iteration. With a = n·Σxx − (Σx)², b = n·Σyy − (Σy)²,
    * c = n·Σxy − ΣxΣy (exact decimals → double once each) and the exact
    * per-row residuals dx' = n·x − Σx, dy' = n·y − Σy:
    * d² = (n−1)·(b·dx'² − 2c·dx'dy' + a·dy'²) / (n·(ab − c²)) — a fixed
    * double chain replayed token-for-token by the oracle (decimals cross
    * to double via VARCHAR there, the E39 lesson).
    *
    * Shape: ONE stats HashAggregate (fixed-width decimal buffer),
    * broadcast back onto the fact (never shuffled for the join — the
    * E25/E41/E42 discipline), one census agg. `threshold` defaults to
    * the χ²(2 dof) 95th percentile.
    */
  def mahalanobisCensus(dfIn: DataFrame, group: Column, x: Column, y: Column,
      threshold: Double = 5.991464547107979): DataFrame = {
    // two consumers (stats pass + census pass) — materialize the input
    // once or any upstream join/agg runs twice (measured 87 s → 30 s at
    // the 100× probe; the basket localCheckpoint lesson)
    val df = dfIn.localCheckpoint()
    val xd = x.cast("decimal(18,2)")
    val yd = y.cast("decimal(18,0)")
    val stats = df.groupBy(group.as("_g"))
      .agg(count(lit(1)).as("n"),
        sum(xd).as("sx"), sum(yd).as("sy"),
        sum(xd * yd).as("sxy"),
        sum(xd * xd).as("sxx"), sum(yd * yd).as("syy"))
      .where(col("n") >= 3)
      .select(col("_g"), col("n"), col("sx"), col("sy"),
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          .as("a"),
        (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
          .as("b"),
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          .as("c"))
    val dxp = (col("n") * xd - col("sx")).cast("double")
    val dyp = (col("n") * yd - col("sy")).cast("double")
    val d2 = (((col("n") - 1).cast("double")) *
      (col("b") * dxp * dxp - lit(2.0) * col("c") * dxp * dyp
        + col("a") * dyp * dyp)) /
      (col("n").cast("double") *
        (col("a") * col("b") - col("c") * col("c")))
    df.join(broadcast(stats), group === col("_g"))
      .select(col("_g").as("g"), d2.as("d2"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("d2") > threshold, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Kaplan-Meier survival estimator with right-censoring.
    *
    * Input: one row per subject — observed duration `t` (integral) and
    * `event` (1 = the terminal event was observed, 0 = censored at t).
    * Output: one row per distinct event time with deaths, the at-risk
    * count, and the survival estimate S(t) = Π_{u≤t} (1 − d_u/n_u).
    *
    * Determinism: d and n are exact integers; each step factor is ONE
    * int/int double division; the cumulative product is a strictly
    * LEFT-TO-RIGHT fold over the time-sorted step array (a single-row
    * higher-order `aggregate` — CodegenFallback, but on the |steps| frame,
    * never the data), which an oracle replays with a recursive CTE
    * multiplying in the same order. Subjects collapse to per-t counts in
    * one hash agg, so the fact shuffles once; everything after is
    * |distinct t|-sized.
    */
  def kaplanMeier(perSubject: DataFrame, t: Column,
      event: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val total = perSubject.agg(count(lit(1)).as("n_total"))
    val perT = perSubject.groupBy(t.as("t"))
      .agg(sum(when(event === 1, 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("o"))
    // at-risk = subjects not yet left before t; |distinct t| frame, so the
    // unpartitioned ordered window is dimension-sized
    val steps = perT.crossJoin(broadcast(total))
      .withColumn("n_risk", col("n_total") - coalesce(
        sum(col("o")).over(Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .where(col("d") > 0)
      .withColumn("factor",
        lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
    steps
      .agg(sort_array(collect_list(struct(col("t"), col("d"),
        col("n_risk"), col("factor")))).as("steps"))
      .select(col("steps"), expr(
        """aggregate(steps, cast(array() as array<double>),
           (acc, s) -> array_append(acc,
             coalesce(element_at(acc, -1), cast(1.0 as double)) * s.factor))
        """).as("surv"))
      .select(posexplode(expr(
        "zip_with(steps, surv, (a, b) -> struct(a.t as t, a.d as d, a.n_risk as n_risk, b as s))")))
      .select(col("col.t").as("t"), col("col.d").as("d"),
        col("col.n_risk").as("n_risk"), col("col.s").as("survival"))
  }
}
