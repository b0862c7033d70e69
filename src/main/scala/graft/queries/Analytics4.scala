package graft.queries

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fourth analytics module: a distributed graph kernel (triangle
  * counting via degree-ordered orientation) plus two more TPC-DS
  * topologies — Q34/Q73's agg-then-join-back "frequent trips" census
  * and Q90's filtered-count ratio.
  *
  * Scale conventions as Analytics/2/3: equi-joins only (the triangle
  * closing edge is an equi lookup, never a θ-join), dims broadcast,
  * exact integer counts so both engines agree bit-for-bit, doubles
  * only at the final rounded ratio.
  */
object Analytics4 extends QueryModule {

  /** Triangle statistics over a canonical undirected edge list
    * (columns u, v with u < v, distinct). Degree-ordered orientation:
    * every edge points from its (degree, id)-smaller endpoint, wedges
    * are out-neighbor pairs of one apex, and a wedge is a triangle iff
    * its (x < y) endpoints are themselves a canonical edge — an equi
    * semi-join, never a θ-join. Factored out so GraphSpec can drive it
    * with known-count graphs (K4, paths, cycles) independent of the
    * fixture.
    *
    * NOTE (r20 Bloom prefilter): construction is EAGER — building the
    * returned frame runs the full edge build (the checkpoint-
    * materializing edge count that sizes the Bloom filter, plus the
    * filter aggregate itself) and bakes n_edges/the filter bytes into
    * the plan as literals frozen at construction time. Fine for the
    * bench/oracle contract (callers always execute); plan-only callers
    * (explain, golden tests) pay those bounded jobs too. */
  private[graft] def triangleStats(eIn: DataFrame): DataFrame = {
    // The edge list feeds FOUR consumers (degree count, orientation,
    // the closing-edge probe, the edge census); without materialization
    // Spark recomputes the distinct pair self-join once per consumer —
    // at sf0.1 that alone is most of the runtime. localCheckpoint (the
    // CC-loop pattern, Pipeline3) computes it once; the bench's
    // between-query quiesce frees the blocks.
    // lazy checkpoint (r20): the bounded edge count below (taken anyway
    // to size the Bloom prefilter) doubles as the materialization
    // action — one pass over the edge build instead of checkpoint-count
    // + count (the CC-loop fusion, same rationale)
    val e = eIn.localCheckpoint(false)
    val deg = e.select(col("u").as("x"))
      .union(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    // u < v by construction, so on a degree tie the id order already
    // points u -> v: orient u -> v iff deg(u) <= deg(v).
    val o = e
      .join(broadcast(deg.toDF("xu", "du")), col("u") === col("xu"))
      .join(broadcast(deg.toDF("xv", "dv")), col("v") === col("xv"))
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v"))
          .as("src"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u"))
          .as("dst"))
    // shuffle_hash on both heavy joins: the apex self-join builds one
    // out-edge partition per apex hash, and the close builds the
    // edge-list side (m rows, far smaller than the m^1.5 wedge stream)
    // — SMJ would SORT the wedge stream, the dominant cost at sf0.1.
    // r21 examined, left: the PRE-AQE plan prints the orientation
    // subtree twice (deg broadcast 4×), but the EXECUTED plan shows
    // AQE's stage cache already reuses the apex exchange and the deg
    // broadcasts (ReusedExchange in
    // plans/r21/q227_triangle_count_before_exec.txt); an explicit
    // repartition + identical-subtree self-join (the lshCandidatePairs
    // pattern) measured FLAT in alternating A/B (4.31–4.61 s vs
    // 4.22–4.93 s) while pinning the partition count against AQE —
    // reverted, no evidence the coalescing hurts here.
    val wedges = o.toDF("s1", "x")
      .join(o.toDF("s2", "y").hint("shuffle_hash"),
        col("s1") === col("s2") && col("x") < col("y"))
      .select(col("x"), col("y"))
    // Bloom prefilter on the closing semi-join (r20 optimization, guide
    // §3.2): the wedge stream is O(m^1.5) and at sf0.1 carries 41M rows
    // into the exchange while only ~4.6% close a triangle. An exact-m
    // Bloom filter over the canonical edge keys drops non-candidate
    // wedges MAP-SIDE, before the exchange, shrinking the close's
    // shuffle to triangles + 1% false positives; the semi-join after it
    // re-checks exactly, so false positives cannot change the count.
    // m comes from one bounded count over the already-checkpointed edge
    // blocks. Scale gate: past bloomMaxEdges (default 2e8 ≈ 240 MB of
    // filter) the broadcast cost outweighs the shuffle saving — skip
    // the prefilter and keep the plain semi-join, same results
    // (GraphSpec runs its known answers on both paths).
    // Driver heap: the driver assembles the whole filter, ~9.6 bits per
    // edge at 1 % fpp, so a graph at the default gate needs ~240 MB of
    // free driver heap for it. Set spark.graft.triangle.bloomMaxEdges
    // lower on a smaller driver (0 turns the prefilter off).
    val m = e.count()
    val bloomMax = e.sparkSession.conf
      .getOption("spark.graft.triangle.bloomMaxEdges").map(_.toLong)
      .getOrElse(200000000L)
    // r21 (ADVICE r20): the filter rides a sparkContext.broadcast
    // referenced from a codegen'd expression instead of being INLINED
    // as a plan Literal — one driver copy instead of three, no
    // multi-MB (at the gate, multi-hundred-MB) literal for optimizer
    // transforms to copy or explain output to hex-expand. Same 1% fpp
    // sizing, same exact semi-join after it, same results.
    val wedgesPre =
      if (m > 0 && m <= bloomMax) {
        val bf = e.stat.bloomFilter(xxhash64(col("u"), col("v")), m, 0.01)
        val bfB = e.sparkSession.sparkContext.broadcast(bf)
        wedges.filter(graft.functions.BloomMightContainBroadcast
          .col(bfB, xxhash64(col("x"), col("y"))))
      } else wedges
    val nTri = wedgesPre
      .join(e.hint("shuffle_hash"),
        col("x") === col("u") && col("y") === col("v"), "leftsemi")
      .agg(count(lit(1)).as("n_triangles"))
    // n_edges IS the bounded count already taken for the Bloom sizing —
    // reuse it as a literal instead of re-aggregating the edge list
    val nEdges = e.sparkSession.range(1).select(lit(m).as("n_edges"))
    val nWedges = deg.agg(
      expr("sum(d * (d - 1)) div 2").as("n_open_wedges"))
    nEdges.crossJoin(nWedges).crossJoin(nTri)
      .select(col("n_edges"), col("n_open_wedges"), col("n_triangles"),
        round(col("n_triangles") * lit(3.0) / col("n_open_wedges"), 6)
          .as("global_cc"))
  }

  /** Canonical co-purchase edge list: distinct part pairs sharing an
    * order, u < v. Pair expansion is bounded by order size (~7 lines),
    * so the self-join fans out O(lines x avg order size) — never
    * quadratic in the table. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.df(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    li.toDF("ok", "pa")
      .join(li.toDF("ok2", "pb"),
        col("ok") === col("ok2") && col("pa") < col("pb"))
      .select(col("pa").as("u"), col("pb").as("v")).distinct()
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Classical seasonal decomposition (trend + seasonal + residual)
    // of the monthly revenue series — the time-series hygiene report
    // behind anomaly review: trend = centered 3-month moving average
    // (exact DECIMAL window sum, divided once in double), seasonal =
    // the month-of-year mean of the detrended series (per-row detrend
    // cast to DECIMAL(18,6) so the cross-year mean is add-order-
    // exact), residual = what's left. Edge months without a full
    // window are excluded BEFORE the seasonal means so every month
    // contributes the same number of years. Fact collapses to the
    // month grain first — all decomposition math runs on the
    // O(months) series, at any corpus scale.
    "q320_seasonal_decompose" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.df(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType)
          .as("m"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("vd"))
      val w = Window.orderBy(col("m")).rowsBetween(-1, 1)
      val trended = monthly
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("trend",
          (sum(col("vd")).over(w).cast(DoubleType) / 3.0))
        .filter(col("n_win") === 3)
        .withColumn("detr",
          (col("vd").cast(DoubleType) - col("trend"))
            .cast(DecimalType(18, 6)))
      val seasonal = trended
        .groupBy(month(col("m")).as("moy"))
        .agg((sum(col("detr")).cast(DoubleType) / count(lit(1)))
          .as("seasonal"))
      trended.join(broadcast(seasonal),
          month(col("m")) === col("moy"))
        .select(col("m").cast(StringType).as("m"),
          col("vd").cast(DoubleType).as("revenue"),
          round(col("trend"), 4).as("trend"),
          round(col("seasonal"), 4).as("seasonal"),
          round(col("detr").cast(DoubleType) - col("seasonal"), 4)
            .as("residual"))
        .orderBy(col("m"))
    },

    // Partition-layout advisor — the table-maintenance report behind
    // every "how many files should this partition have" decision:
    // per ship-month, exact row counts and a byte estimate from an
    // explicit per-row width formula (fixed numeric widths + actual
    // string byte lengths), yielding a recommended file count at the
    // 128 MB target. All integers exact; the advisor output is
    // O(partitions) and the scan is one pass — the query a compaction
    // scheduler (q247's trigger) runs nightly.
    "q340_partition_advisor" -> { (s, dir) =>
      val bytesPerRow = lit(68) +
        octet_length(col("l_returnflag")) +
        octet_length(col("l_linestatus"))
      Tables.df(s, dir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).cast(DateType)
          .cast(StringType).as("m"))
        .agg(count(lit(1)).as("n_rows"),
          sum(bytesPerRow.cast(LongType)).as("est_bytes"))
        .withColumn("rec_files",
          greatest(lit(1L), ceil(col("est_bytes") /
            (128.0 * 1024 * 1024)).cast(LongType)))
        .orderBy(col("m"))
    },

    // Theil–Sen robust trend — the median of all pairwise slopes of
    // the monthly series, next to the OLS slope for contrast (one
    // gross outlier month drags OLS but not Sen). The pairwise stage
    // is O(months²) on the DOMAIN-sized series; each slope is one
    // exact-decimal subtraction and one double division, the median
    // is percentile_disc (a data value), and OLS comes from exact
    // integer-cents moments (HUGEINT/decimal(38,0) — Σx·Σy overflows
    // int64) with a single double division — everything
    // bit-deterministic.
    "q339_theil_sen" -> { (s, dir) =>
      val monthly = Tables.df(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 +
          month(col("o_orderdate"))).as("x"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("vd"))
      val slopes = monthly.toDF("xi", "vi")
        .join(monthly.toDF("xj", "vj"), col("xi") < col("xj"))
        .select(((col("vj") - col("vi")).cast(DoubleType) /
          (col("xj") - col("xi"))).as("slope"))
      val sen = slopes.agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)")
          .as("sen_slope"),
        count(lit(1)).as("n_pairs"))
      val m = monthly
        .withColumn("vc", (col("vd") * 100).cast(DecimalType(20, 0)))
        .agg(count(lit(1)).as("n_months"), sum(col("x")).as("sx"),
          sum(col("vc")).as("sy"),
          sum((col("x") * col("vc")).cast(DecimalType(38, 0)))
            .as("sxy"),
          sum((col("x") * col("x")).cast(LongType)).as("sxx"))
      sen.crossJoin(broadcast(m))
        .select(col("n_months"), col("n_pairs"),
          round(col("sen_slope"), 2).as("sen_slope"),
          round((col("n_months") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType) /
            (col("n_months") * col("sxx") - col("sx") * col("sx"))
              .cast(DoubleType) / 100.0, 2).as("ols_slope"))
    },

    // Inter-annotator agreement (Cohen's kappa) — the annotation-QA
    // statistic every labeling pipeline reports: two deterministic
    // labeler RULES (char-length vs token-count "long doc" criteria)
    // play the two annotators, the confusion census is one
    // conditional-agg scan, and kappa corrects raw agreement for
    // chance: κ = (pₒ − pₑ)/(1 − pₑ). All four cells are exact
    // integers; only the three final statistics are rounded doubles.
    "q334_cohens_kappa" -> { (s, dir) =>
      val d = Tables.df(s, dir, "documents")
        .select(
          (col("n_chars") >= 500).as("a"),
          (size(split(col("text"), " ")) >= 90).as("b"))
      d.agg(count(lit(1)).as("n"),
          sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
          sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"),
          sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"))
        .withColumn("po",
          (col("n11") + col("n00")).cast(DoubleType) / col("n"))
        .withColumn("pe",
          ((col("n11") + col("n10")).cast(DoubleType) / col("n")) *
            ((col("n11") + col("n01")).cast(DoubleType) / col("n")) +
          ((col("n00") + col("n01")).cast(DoubleType) / col("n")) *
            ((col("n00") + col("n10")).cast(DoubleType) / col("n")))
        .select(col("n"), col("n11"), col("n00"), col("n10"),
          col("n01"), round(col("po"), 6).as("po"),
          round(col("pe"), 6).as("pe"),
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6)
            .as("kappa"))
    },

    // Seasonal-naive forecast BACKTEST — the honesty report behind
    // any forecasting claim: predict month m with the value at m−12,
    // then score per-year MAPE and bias against actuals. Errors stay
    // in exact decimal; each month's absolute-percentage error is one
    // double division cast to DECIMAL(18,8) before the yearly mean,
    // so the scores are add-order-independent. The self-join is on
    // (year−1, month) over the O(months) series.
    "q335_forecast_backtest" -> { (s, dir) =>
      val monthly = Tables.df(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("mo"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("vd"))
      val f = monthly.select((col("y") + 1).as("fy"),
        col("mo").as("fmo"), col("vd").as("fc"))
      monthly.join(f, col("y") === col("fy") && col("mo") === col("fmo"))
        .withColumn("ape",
          (abs((col("vd") - col("fc")).cast(DoubleType)) /
            col("vd").cast(DoubleType)).cast(DecimalType(18, 8)))
        .groupBy(col("y"))
        .agg(count(lit(1)).as("n_months"),
          round(sum(col("ape")).cast(DoubleType) / count(lit(1)), 6)
            .as("mape"),
          round(sum(col("vd") - col("fc")).cast(DoubleType) /
            sum(col("vd")).cast(DoubleType), 6).as("bias"))
        .orderBy(col("y"))
    },

    // Hierarchical share report (ratio-to-parent at every level):
    // nation revenue as a share of its region AND of the total, plus
    // rank within region — the drill-down table every BI layer
    // renders. The fact collapses to nation grain FIRST (one decimal-
    // exact shuffle); all three window passes then run on the
    // O(nations) census, so the hierarchy math is free at any corpus
    // scale. Shares divide once in double from exact decimal sums.
    "q328_hierarchy_shares" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val perNation = Tables.df(s, dir, "orders")
        .join(Tables.df(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.df(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.df(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .as("revd"))
      val wReg = Window.partitionBy(col("region"))
      val wAll = Window.partitionBy()
      val wRk = Window.partitionBy(col("region"))
        .orderBy(col("revd").desc, col("nation"))
      perNation
        .withColumn("reg_rev", sum(col("revd")).over(wReg))
        .withColumn("tot_rev", sum(col("revd")).over(wAll))
        .select(col("region"), col("nation"),
          col("revd").cast(DoubleType).as("revenue"),
          round(col("revd").cast(DoubleType) /
            col("reg_rev").cast(DoubleType), 6).as("share_in_region"),
          round(col("revd").cast(DoubleType) /
            col("tot_rev").cast(DoubleType), 6).as("share_of_total"),
          row_number().over(wRk).cast(LongType).as("rk_in_region"))
        .orderBy(col("region"), col("rk_in_region"))
    },

    // Exact WEIGHTED median — the quantity-weighted "typical price"
    // (each line votes with its units, not once): sort by value
    // inside each group, cumulative-sum the integer weights, and take
    // the first value whose doubled cumulative weight reaches the
    // total. All weights are exact integers (quantity cast to long),
    // so the pick is bit-deterministic; ties in price break on the
    // (orderkey, linenumber) id so the cumsum order is total. At
    // 100 TB the exact form is one sort per group — the sketch-based
    // approximation (q66) is the alternative when that sort is too
    // expensive; this pins the exact semantics.
    "q329_weighted_median" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val li = Tables.df(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("v"),
          col("l_quantity").cast(LongType).as("w"),
          col("l_orderkey"), col("l_linenumber"))
      val wCum = Window.partitionBy(col("flag"))
        .orderBy(col("v"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = li.groupBy(col("flag"))
        .agg(sum(col("w")).as("totw"), count(lit(1)).as("n_lines"))
      li.withColumn("cumw", sum(col("w")).over(wCum))
        .join(broadcast(tot), "flag")
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy(col("flag"))
        .agg(min(col("v")).as("wmedian"),
          min(col("n_lines")).as("n_lines"),
          min(col("totw")).as("total_weight"))
        .orderBy(col("flag"))
    },

    // Feature-scaling outlier report — the ML-preprocessing QA pass:
    // per order-priority group, outlier counts under the three
    // standard scalings (z-score, robust IQR fences, min-max top-5%).
    // Every threshold is derived from EXACT arithmetic: mean and
    // variance come from decimal sums (sum x, sum x² in DECIMAL — no
    // float add-order wobble, so boundary rows can't flip between
    // engines), quartiles are percentile_disc DATA VALUES, min/max
    // exact. One stats aggregate per group broadcasts back over one
    // counting pass — two scans, no window, any scale.
    "q326_feature_scaling" -> { (s, dir) =>
      val o = Tables.df(s, dir, "orders")
        .select(col("o_orderpriority").as("prio"),
          col("o_totalprice").as("x"))
      val stats = o.groupBy(col("prio")).agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(18, 2))).as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(28, 4))).as("sxx"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY x)")
          .as("p25"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY x)")
          .as("p75"),
        min(col("x")).as("mn"), max(col("x")).as("mx"))
        .withColumn("mean", col("sx").cast(DoubleType) / col("n"))
        .withColumn("sd", sqrt(col("sxx").cast(DoubleType) / col("n") -
          col("mean") * col("mean")))
      o.join(broadcast(stats), "prio")
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("x") - col("mean")) > lit(2.0) * col("sd"),
            1L).otherwise(0L)).as("n_z2"),
          sum(when(col("x") > col("p75") +
              lit(1.5) * (col("p75") - col("p25")), 1L)
            .otherwise(0L)).as("n_iqr_high"),
          sum(when(col("x") > col("mn") +
              lit(0.95) * (col("mx") - col("mn")), 1L)
            .otherwise(0L)).as("n_top5"))
        .orderBy(col("prio"))
    },

    // CUSUM change-point detection over the monthly revenue series —
    // the sequential shift detector next to q320's decomposition:
    // cumulative sum of deviations from the series mean, flagged when
    // |CUSUM| exceeds 2σ of the monthly values. Mean and deviations
    // stay in EXACT decimal (the running sum is a decimal window sum
    // — no float accumulation), σ comes from decimal moments, so the
    // flag is bit-deterministic; all math on the O(months) series.
    "q327_cusum_changepoint" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.df(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType)
          .as("m"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("vd"))
      // Everything runs in EXACT integer CENTS (the q212/q238 lesson:
      // monthly² overflows int64 AND DuckDB's in-place decimal
      // multiply, so the square lives in decimal(38,0) here and
      // HUGEINT there); dev is vc·n − Σvc (n× the true deviation) so
      // no decimal DIVISION — whose scale rules differ per engine —
      // ever happens; the single ÷(100n) is one double op on the way
      // out, and the 2σ flag compares against 2·σ·n in cents.
      val cents = monthly
        .withColumn("vc", (col("vd") * 100).cast(DecimalType(20, 0)))
      val st = cents.agg(count(lit(1)).as("n"),
        sum(col("vc")).as("svc"),
        sum((col("vc") * col("vc")).cast(DecimalType(38, 0))).as("svv"))
        .withColumn("meanc", col("svc").cast(DoubleType) / col("n"))
        .withColumn("sdc", sqrt(col("svv").cast(DoubleType) / col("n") -
          col("meanc") * col("meanc")))
        .select(col("n"), col("svc"), col("sdc"))
      val w = Window.orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, 0)
      cents.crossJoin(broadcast(st))
        .withColumn("dev",
          (col("vc") * col("n") - col("svc")).cast(DecimalType(38, 0)))
        .withColumn("cusum_n", sum(col("dev")).over(w))
        .select(col("m").cast(StringType).as("m"),
          col("vd").cast(DoubleType).as("revenue"),
          round(col("cusum_n").cast(DoubleType) / (col("n") * 100.0), 2)
            .as("cusum"),
          (abs(col("cusum_n").cast(DoubleType)) >
            lit(2.0) * col("sdc") * col("n")).as("shifted"))
        .orderBy(col("m"))
    },

    // A/B experiment report — the experimentation-analytics readout:
    // deterministic 50/50 variant assignment (first md5 byte of the
    // salted user id — the same reproducible-split discipline as
    // q240), exposure = the user's first 'view', conversion = any
    // purchase strictly after exposure. Assignment is pure map work;
    // the exposure and outcome sides are two conditional aggregates of
    // ONE event scan joined at user grain, and the report is
    // O(variants). Counts exact; only the final rate is a rounded
    // double.
    "q324_ab_test" -> { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      val expo = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("exposure"))
      val fp = ev.filter(col("event_type") === "purchase")
        .join(expo, "user_id")
        .filter(col("ts") > col("exposure"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("fp"))
      val per = expo.join(fp, Seq("user_id"), "left")
        .withColumn("variant",
          when(substring(md5(concat(lit("ab"),
            col("user_id").cast(StringType))), 1, 2) < "80", "A")
            .otherwise("B"))
        .withColumn("converted",
          col("fp").isNotNull &&
            col("fp") <= col("exposure") + expr("INTERVAL 6 HOURS"))
      per.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("converted"), 1L).otherwise(0L))
            .as("n_converters"))
        .withColumn("conv_rate",
          round(col("n_converters").cast(DoubleType) / col("n_users"), 6))
        .orderBy(col("variant"))
    },

    // Strict ORDERED funnel (view → click → purchase, each step
    // strictly after the previous) — q311 times a 2-step funnel; this
    // pins the 3-step ORDER semantics that separate a funnel from
    // mere set intersection (a user who purchases before clicking
    // does NOT convert). Stage timestamps resolve as chained
    // conditional minimums: one user-grain aggregate per stage, each
    // joined back at user grain — user-keyed narrow joins, never an
    // event-log self-join.
    "q325_ordered_funnel" -> { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 6 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 6 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      t1.join(t2, Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_viewed"),
          count(col("t2")).as("n_clicked_after"),
          count(col("t3")).as("n_purchased_after"))
    },

    // Frequent 3-itemsets with the APRIORI candidate prune — one level
    // beyond q261's pair rules: baskets prune to minsup-frequent items
    // first, pairs aggregate and prune at minsup, and the triple
    // enumeration joins through the FREQUENT-PAIR set at every step —
    // the downward-closure property makes the prune lossless (any
    // support-2 triple has only support-≥2 sub-patterns), so engine
    // and oracle compute the identical full result and the same
    // deterministic top-15. The shape is the real Apriori level-k
    // plan: candidate generation never touches infrequent mass.
    "q322_apriori_triples" -> { (s, dir) =>
      val minsup = 2
      // items = part FAMILIES (partkey mod 500): triples of raw part
      // keys stop repeating as the catalog outgrows the basket count,
      // so the mining grain is the family — the usual category-level
      // basket analysis.
      val items = Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
          (col("l_partkey") % 500).as("p"))
        .distinct()
      val f1 = items.groupBy(col("p")).agg(count(lit(1)).as("s1"))
        .filter(col("s1") >= minsup).select(col("p"))
      val fi = items.join(f1, Seq("p"), "leftsemi")
      val p2 = fi.toDF("pa", "ok").join(fi.toDF("pb", "ok2"),
          col("ok") === col("ok2") && col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("s2"))
        .filter(col("s2") >= minsup)
        .select(col("pa"), col("pb"))
      fi.toDF("a", "ok").join(fi.toDF("b", "okb"),
          col("ok") === col("okb") && col("a") < col("b"))
        .join(p2.toDF("xa", "xb"),
          col("a") === col("xa") && col("b") === col("xb"), "leftsemi")
        .join(fi.toDF("c", "okc"),
          col("ok") === col("okc") && col("b") < col("c"))
        .join(p2.toDF("ya", "yc"),
          col("a") === col("ya") && col("c") === col("yc"), "leftsemi")
        .join(p2.toDF("zb", "zc"),
          col("b") === col("zb") && col("c") === col("zc"), "leftsemi")
        .groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= minsup)
        .orderBy(col("support").desc, col("a"), col("b"), col("c"))
        .limit(15)
    },

    // Rich-club coefficient — the core-periphery diagnostic (do hubs
    // preferentially connect to hubs?): density of the subgraph
    // induced by the top-k-degree nodes, φ(k) = edges-among-top /
    // C(k,2), next to the whole-graph density for contrast. Two
    // semi-joins restrict the edge list to the club (never a node
    // cross join); k=100 with (degree, id) tiebreaks so the club is
    // deterministic. Assortativity (q238) asks the question per-edge;
    // this asks it about the induced SUBGRAPH.
    "q367_rich_club" -> { (s, dir) =>
      val e = coPurchaseEdges(s, dir).localCheckpoint()
      val deg = e.select(col("u").as("x"))
        .unionAll(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      // top-100 degrees via orderBy().limit() — plans a distributed
      // TakeOrderedAndProject (per-partition partial top-k, merged on
      // the driver), not a single-partition global window
      val club = deg.orderBy(col("d").desc, col("x")).limit(100)
        .select(col("x"))
      val clubEdges = e
        .join(club.toDF("cu"), col("u") === col("cu"), "leftsemi")
        .join(club.toDF("cv"), col("v") === col("cv"), "leftsemi")
      val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(clubEdges.agg(count(lit(1)).as("n_club_edges")))
        .crossJoin(broadcast(nNodes))
        .select(col("n_nodes"), col("n_edges"), col("n_club_edges"),
          round(col("n_club_edges").cast(DoubleType) /
            (lit(100.0) * 99.0 / 2.0), 6).as("phi_club"),
          round(col("n_edges").cast(DoubleType) /
            (col("n_nodes").cast(DoubleType) *
              (col("n_nodes") - 1) / 2.0), 6).as("density_all"))
    },

    // Link prediction by common neighbors — the SEVENTH graph
    // operator: for part pairs NOT yet co-purchased, count shared
    // co-purchase neighbors and score neighbor-set Jaccard
    // cn/(dx+dy−cn). Wedges enumerate from the SYMMETRIZED edge list
    // (e ∪ reversed(e)) joined on a shared apex with x < y, so every
    // open wedge x–z–y is found exactly once regardless of how z's
    // degree compares to x's and y's. (q227's degree-ordered
    // orientation is NOT reused here: orientation only surfaces a
    // wedge when the apex has the smallest degree — exhaustive for
    // CLOSED wedges, i.e. triangles, but it undercounts open wedges,
    // which is precisely what common-neighbor counting needs. Cost is
    // the honest Σdeg² wedge stream; the shuffle_hash hint keeps it
    // unsorted.) Existing edges drop via one LEFT ANTI on the
    // canonical edge set, and every score term is an exact integer or
    // a single correctly-rounded division, so the top-20 cutoff is
    // bit-deterministic on both engines (ties broken by the pair id).
    "q321_link_prediction" -> { (s, dir) =>
      val e = coPurchaseEdges(s, dir).localCheckpoint()
      val deg = e.select(col("u").as("x"))
        .unionAll(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val sym = e.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      val cn = sym.toDF("s1", "x")
        .join(sym.toDF("s2", "y").hint("shuffle_hash"),
          col("s1") === col("s2") && col("x") < col("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cn"))
      cn
        .join(e, col("x") === col("u") && col("y") === col("v"),
          "leftanti")
        .join(broadcast(deg.toDF("dxk", "dx")), col("x") === col("dxk"))
        .join(broadcast(deg.toDF("dyk", "dy")), col("y") === col("dyk"))
        .select(col("x"), col("y"), col("cn"),
          (col("cn").cast(DoubleType) /
            (col("dx") + col("dy") - col("cn"))).as("jac"))
        .orderBy(col("cn").desc, col("jac").desc, col("x"), col("y"))
        .limit(20)
    },

    // k-core peeling — the sixth graph kernel (CC=min, PageRank=mass,
    // LP=mode, triangles=closure, BFS=distance; k-core=density):
    // 4 SYNCHRONOUS peel rounds at k=3 over the co-purchase graph,
    // each round dropping nodes of degree < k and the edges touching
    // them. Fixed round count makes the contract deterministic and
    // SQL-unrollable (the q258 label-propagation convention); each
    // round is one degree census + two key-only semi joins, with the
    // superseded round's checkpoint blocks freed immediately (the CC
    // loop's 100 TB executor-memory discipline).
    "q315_kcore_peel" -> { (s, dir) =>
      val k = 3
      def free(df: DataFrame): Unit =
        df.queryExecution.analyzed.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        }.foreach(_.unpersist(blocking = false))
      var e = coPurchaseEdges(s, dir).localCheckpoint()
      for (_ <- 1 to 4) {
        val deg = e.select(col("u").as("x"))
          .unionAll(e.select(col("v").as("x")))
          .groupBy(col("x")).agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k)
        val e2 = e
          .join(keep.select(col("x").as("ku")),
            col("u") === col("ku"), "leftsemi")
          .join(keep.select(col("x").as("kv")),
            col("v") === col("kv"), "leftsemi")
          .localCheckpoint()
        free(e); e = e2
      }
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .orderBy(col("node"))
    },

    // The OR-equi-join trap, solved: ON a=c OR b=d cannot use a hash
    // join (no single equi key), so Spark plans a nested-loop — at
    // 100 TB that is rows(L)×rows(R). The scalable rewrite runs each
    // OR branch as its OWN equi-join, unions the branches with
    // predicate flags, and dedups on the pair key (max-combining the
    // flags, which also yields the per-branch attribution census for
    // free). The oracle runs the literal OR join, pinning
    // rewrite ≡ literal; the plan is asserted nested-loop-free.
    "q316_or_join_union" -> { (s, dir) =>
      val c = Tables.df(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          (col("c_custkey") % 50).as("cb"))
      val sup = Tables.df(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"),
          (col("s_suppkey") % 50).as("sb"))
      val byNation = c.join(sup, col("c_nationkey") === col("s_nationkey"))
        .select(col("c_custkey"), col("s_suppkey"),
          lit(1).as("f_nat"), lit(0).as("f_mod"))
      val byMod = c.join(sup, col("cb") === col("sb"))
        .select(col("c_custkey"), col("s_suppkey"),
          lit(0).as("f_nat"), lit(1).as("f_mod"))
      byNation.unionAll(byMod)
        .groupBy(col("c_custkey"), col("s_suppkey"))
        .agg(max(col("f_nat")).as("fn"), max(col("f_mod")).as("fm"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("fn") === 1 && col("fm") === 1, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("fn") === 1 && col("fm") === 0, 1L)
            .otherwise(0L)).as("n_nation_only"),
          sum(when(col("fn") === 0 && col("fm") === 1, 1L)
            .otherwise(0L)).as("n_mod_only"))
    },

    // TPC-DS Q1 topology: entities compared against 1.2× THEIR GROUP'S
    // average — customers whose returned value exceeds 1.2× the mean
    // returned value of their nation. The correlated scalar subquery
    // decorrelates into: fact aggregates to customer grain FIRST (the
    // only fact-sized shuffle), dims attach to the census, the group
    // average is a second nation-sized aggregate broadcast back. The
    // 1.2× comparison runs as 10·n·total > 12·nat_sum in exact decimal
    // integers — no decimal/double avg() divergence between engines.
    "q308_above_avg_returns" -> { (s, dir) =>
      val per = Tables.df(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(Tables.df(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("total_ret"))
      val wn = per
        .join(Tables.df(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("custkey") === col("c_custkey"))
        .join(broadcast(Tables.df(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("custkey"), col("n_nationkey"), col("n_name"),
          col("total_ret"))
      val nat = wn.groupBy(col("n_nationkey").as("nk"))
        .agg(sum(col("total_ret")).as("nat_sum"),
          count(lit(1)).as("n_cust"))
      wn.join(broadcast(nat), col("n_nationkey") === col("nk"))
        .filter(col("total_ret") * 10 * col("n_cust") >
          col("nat_sum") * 12)
        .select(col("custkey"), col("n_name").as("nation"),
          col("total_ret").cast(DoubleType).as("total_ret"))
        .orderBy(col("custkey"))
    },

    // Weight-of-Evidence / Information-Value feature binning — the
    // credit-scoring (and LLM quality-classifier) feature report. The
    // SCALABLE decile shape: exact percentile_disc boundaries come
    // from ONE sort-based aggregate, broadcast as a 9-element array,
    // and bin assignment is a map-side size(filter(...)) — no global
    // ntile window (which would single-partition the fact at 100 TB).
    // Counts are exact integers; WOE/IV go double only at the final
    // rounded report. Label: order fully fulfilled (status 'F').
    "q310_woe_binning" -> { (s, dir) =>
      val o = Tables.df(s, dir, "orders")
      val bnds = o.agg(array((1 to 9).map(i =>
        expr(s"percentile_disc(0.${i}) WITHIN GROUP " +
          "(ORDER BY o_totalprice)")): _*).as("bnds"))
      val binned = o.crossJoin(broadcast(bnds))
        .select(
          (size(filter(col("bnds"),
            b => col("o_totalprice") > b)) + 1).as("bin"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("good"))
      val per = binned.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("good")).as("n_good"),
          (count(lit(1)) - sum(col("good"))).as("n_bad"))
      val tot = per.agg(sum(col("n_good")).as("tot_good"),
        sum(col("n_bad")).as("tot_bad"))
      per.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("n_good"), col("n_bad"),
          round(log((col("n_good") / col("tot_good")) /
            (col("n_bad") / col("tot_bad"))), 4).as("woe"),
          round(((col("n_good") / col("tot_good")) -
            (col("n_bad") / col("tot_bad"))) *
            log((col("n_good") / col("tot_good")) /
              (col("n_bad") / col("tot_bad"))), 6).as("iv_part"))
        .orderBy(col("bin"))
    },

    // Funnel conversion-latency percentiles: among users whose first
    // click precedes a later purchase, the distribution of
    // click→purchase latency. Two conditional min-aggregates per user
    // in ONE event scan (no self-join of the event log), then exact
    // percentiles over the user-sized census — the funnel twin of
    // q148's step-count census, answering "how fast", not "how many".
    "q311_funnel_latency" -> { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      val per = ev.filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "click", col("ts")))
            .as("first_click"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("first_purchase"))
        .filter(col("first_click").isNotNull &&
          col("first_purchase").isNotNull &&
          col("first_purchase") > col("first_click"))
        .select((unix_timestamp(col("first_purchase")) -
          unix_timestamp(col("first_click"))).as("lat_s"))
      per.agg(count(lit(1)).as("n_converters"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_s)")
          .as("p50_s"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_s)")
          .as("p90_s"),
        min(col("lat_s")).as("min_s"), max(col("lat_s")).as("max_s"))
    },

    // 2-D skyline (Pareto frontier): parts that are not dominated on
    // (price low, size low) — the multi-objective "best tradeoffs"
    // query. Naive skyline is a quadratic self-anti-join; the 2-D case
    // collapses to a STAIRCASE scan: distinct pairs → min size per
    // price (same-price larger sizes are dominated) → one ordered pass
    // keeping rows whose size beats the running min over all strictly
    // cheaper prices. Both reductions run on the DOMAIN of (price,
    // size) — bounded, not row-count-sized — so the single-partition
    // ordered window is over a dimension-table-sized input at any
    // corpus scale; the fact-sized work is one distinct shuffle. The
    // oracle runs the literal NOT EXISTS dominance definition, pinning
    // staircase ≡ definition.
    "q307_skyline" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.df(s, dir, "part")
        .select(round(col("p_retailprice"), 2).as("price"),
          col("p_size").as("sz"))
        .distinct()
      val perPrice = d.groupBy(col("price")).agg(min(col("sz")).as("sz"))
      val w = Window.orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      perPrice.withColumn("runmin", min(col("sz")).over(w))
        .filter(col("runmin").isNull || col("sz") < col("runmin"))
        .select(col("price"), col("sz"))
        .orderBy(col("price"))
    },


    // Triangle counting over the co-purchase graph (parts sharing an
    // order). The classic distributed kernel: orient every undirected
    // edge from the (degree, id)-smaller endpoint to the larger, build
    // wedges by self-joining out-edges on the apex, close each wedge
    // with an equi semi-lookup into the canonical edge set. Orientation
    // caps per-node out-degree at O(sqrt(m)), so the wedge shuffle is
    // O(m^1.5) worst-case instead of sum(deg^2) — the difference
    // between feasible and not on a 100 TB power-law graph. Every join
    // is an equi hash join; the degree table is node-count-sized and
    // broadcasts.
    "q227_triangle_count" -> { (s, dir) =>
      triangleStats(coPurchaseEdges(s, dir))
    },

    // Degree assortativity of the co-purchase graph — the Newman mixing
    // coefficient (do hubs connect to hubs?): Pearson r over the
    // (deg(src), deg(dst)) pairs of every directed edge. Moments are
    // EXACT integers carried in decimal(38,0) (the cross-moment n·Σxy
    // overflows int64 by ~sf0.1 scale already — the q212 lesson), so
    // both engines agree bit-for-bit and only the final r is a rounded
    // double. Two shuffles total: degree count + the edge-degree join.
    "q238_assortativity" -> { (s, dir) =>
      // materialize once — consumed by the degree census and both
      // edge directions (the triangleStats rationale)
      val e = coPurchaseEdges(s, dir).localCheckpoint()
      val deg = e.select(col("u").as("x"))
        .union(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val directed = e.select(col("u").as("src"), col("v").as("dst"))
        .union(e.select(col("v").as("src"), col("u").as("dst")))
      val D0 = DecimalType(38, 0)
      val pairs = directed
        .join(broadcast(deg.toDF("xs", "dx")), col("src") === col("xs"))
        .join(broadcast(deg.toDF("xt", "dy")), col("dst") === col("xt"))
        .select(col("dx").cast(D0).as("x"), col("dy").cast(D0).as("y"))
      pairs.agg(
          count(lit(1)).cast(D0).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
        .select((col("n") / 2).cast(LongType).as("n_edges"),
          round(
            ((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType)) /
            sqrt((col("n") * col("sx2") - col("sx") * col("sx"))
              .cast(DoubleType) *
              (col("n") * col("sy2") - col("sy") * col("sy"))
                .cast(DoubleType)), 6).as("assortativity"))
    },

    // TPC-DS Q34/Q73 topology — aggregate a fact, band-filter the
    // aggregate, then join the surviving groups BACK to the dimension
    // for attributes. The join-back input is already one row per
    // customer (post-agg), so at 100 TB the second join shuffles the
    // small census, not the fact, and the dim side broadcasts.
    "q230_frequent_trips" -> { (s, dir) =>
      val o = Tables.df(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          year(col("o_orderdate")).between(1996, 1998))
      val census = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_trips"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("spend"))
        .filter(col("n_trips").between(4, 7))
      val c = Tables.df(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_nationkey"))
      val n = Tables.df(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      census.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("n_name"), col("n_trips"), col("spend"))
        .orderBy(col("n_trips").desc, col("c_custkey"))
    },

    // Data-quality audit — the expectations pass a 100 TB pipeline runs
    // before training ingestion: null/range/sign checks FUSED into one
    // conditional-aggregation scan per table (never one scan per
    // check), plus the two checks that need their own shape — duplicate
    // primary keys (grouped count) and orphaned foreign keys (LEFT ANTI
    // join). Output is one row per constraint, O(constraints) total.
    "q236_quality_audit" -> { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
      val o = Tables.df(s, dir, "orders")
      val liStats = li.agg(
        count(lit(1)).as("n_li"),
        count(when(col("l_shipdate").isNull, 1)).as("v_null_ship"),
        count(when(col("l_quantity") <= 0, 1)).as("v_qty"),
        count(when(!col("l_discount").between(0, 1), 1)).as("v_disc"))
      val dup = li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L))
          .as("v_dup"))
      val orphan = li.join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("v_orphan"))
      val ordStats = o.agg(count(lit(1)).as("n_ord"),
        count(when(col("o_totalprice") <= 0, 1)).as("v_price"))
      liStats.crossJoin(dup).crossJoin(orphan).crossJoin(ordStats)
        .select(explode(array(
          struct(lit("lineitem.discount_range").as("check_name"),
            col("v_disc").as("n_violations"),
            col("n_li").as("n_checked")),
          struct(lit("lineitem.duplicate_pk").as("check_name"),
            col("v_dup").as("n_violations"),
            col("n_li").as("n_checked")),
          struct(lit("lineitem.fk_orders").as("check_name"),
            col("v_orphan").as("n_violations"),
            col("n_li").as("n_checked")),
          struct(lit("lineitem.positive_qty").as("check_name"),
            col("v_qty").as("n_violations"),
            col("n_li").as("n_checked")),
          struct(lit("lineitem.shipdate_not_null").as("check_name"),
            col("v_null_ship").as("n_violations"),
            col("n_li").as("n_checked")),
          struct(lit("orders.positive_total").as("check_name"),
            col("v_price").as("n_violations"),
            col("n_ord").as("n_checked")))).as("r"))
        .select(col("r.check_name").as("check_name"),
          col("r.n_violations").as("n_violations"),
          col("r.n_checked").as("n_checked"))
        .withColumn("pass", col("n_violations") === 0)
        .orderBy(col("check_name"))
    },

    // TPC-DS Q41/Q48 topology — an OR of attribute conjunctions over
    // the dimension. The disjunction must still reach the parquet scan
    // as a pushed Or() filter (plan-asserted in PlanSpec): at 100 TB a
    // non-pushed disjunctive filter reads the whole dimension — the
    // classic CNF blind spot this shape exists to catch. The filtered
    // dim then broadcasts into the fact join.
    "q232_disjunctive_dim" -> { (s, dir) =>
      val p = Tables.df(s, dir, "part")
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size") <= 25) ||
          (col("p_brand") === "Brand#21" &&
            col("p_size").between(15, 40)) ||
          (col("p_brand") === "Brand#5" && col("p_size") >= 30))
        .select(col("p_partkey"), col("p_brand"))
      Tables.df(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_extendedprice"),
          col("l_quantity"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("revenue"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("qty"))
        .orderBy(col("p_brand"))
    },

    // TPC-DS Q93 topology — fact LEFT JOIN a pre-aggregated subset of
    // itself, rows WITHOUT a match surviving at full value: per-order
    // returned value (returnflag R lines) nets against the order
    // total, and orders with no returns keep o_totalprice untouched
    // (the coalesce-to-zero leg is the point of the shape). The
    // returns side partial-aggregates to order grain BEFORE the join,
    // so the shuffle carries one row per returned order, not every
    // returned line.
    "q233_returns_netting" -> { (s, dir) =>
      // discounted value in EXACT decimal (a double product rounded to
      // decimal afterwards diverges between engines at half-ulp cells)
      val ret = Tables.df(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1).cast(DecimalType(4, 2)) -
            col("l_discount").cast(DecimalType(4, 2))))
          .as("ret_value"))
      Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .join(ret, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderpriority"),
          (col("o_totalprice").cast(DecimalType(18, 2)) -
            coalesce(col("ret_value"), lit(0).cast(DecimalType(18, 2))))
            .as("net"),
          when(col("ret_value").isNull, 0).otherwise(1).as("has_ret"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("has_ret")).as("n_with_returns"),
          sum(col("net")).cast(DoubleType).as("net_value"))
        .orderBy(col("o_orderpriority"))
    },

    // TPC-DS Q54 topology — anchor each customer at their FIRST
    // purchase, then measure revenue in the following 90 days: an
    // aggregate of the fact joins back to the SAME fact with a
    // temporal band predicate riding the custkey equi-join. Census by
    // first-purchase month. Both passes share one custkey shuffle
    // shape; the band predicate stays inside the hash join.
    "q234_first_purchase_window" -> { (s, dir) =>
      val o = Tables.df(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
      val first = o.groupBy(col("o_custkey").as("f_custkey"))
        .agg(min(col("o_orderdate")).as("first_dt"))
      val follow = o.join(first,
          col("o_custkey") === col("f_custkey") &&
          col("o_orderdate") > col("first_dt") &&
          col("o_orderdate") <=
            col("first_dt") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("f_custkey"), col("first_dt"))
        .agg(count(lit(1)).as("n_follow"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .as("follow_rev"))
      follow.groupBy(date_trunc("month", col("first_dt")).as("cohort"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("n_follow")).as("n_follow_orders"),
          sum(col("follow_rev")).cast(DoubleType).as("follow_revenue"))
        .orderBy(col("cohort"))
    },

    // TPC-DS Q64 topology — the same deep join tree instantiated TWICE
    // (consecutive years) and self-paired on (customer, part): repeat
    // buyers with year-over-year spend. Each side aggregates to
    // (cust, part) grain BEFORE the pairing, so the self-join shuffles
    // two census-sized sides on the composite key — never fact x fact —
    // and the dims (part/customer/nation) broadcast onto the paired
    // result, not into each leg.
    "q239_repeat_buyers" -> { (s, dir) =>
      // r20 optimization: the two near-equal year-legs each scanned
      // lineitem + orders, aggregated to (cust, part) grain, then
      // self-paired — two fact passes and two census shuffles deciding
      // what ONE pass can: year-conditional decimal partials in a
      // single (cust, part) census; a pair is a repeat buyer iff both
      // year sums are non-null (the inner self-join's condition,
      // row-for-row). The decimal partials re-sum identically (exact
      // addition, order-insensitive), so values are bit-identical;
      // at 100 TB this halves the fact passes and drops the pairing
      // join outright.
      val census = Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          (col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1).cast(DecimalType(4, 2)) -
              col("l_discount").cast(DecimalType(4, 2))))
            .as("val"))
        .join(Tables.df(s, dir, "orders")
            .filter(year(col("o_orderdate")).isin(1996, 1997))
            .select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).as("yr")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("ck_a"),
          col("l_partkey").as("pk_a"))
        .agg(sum(when(col("yr") === 1996, col("val"))).as("spend_a"),
          sum(when(col("yr") === 1997, col("val"))).as("spend_b"))
        .filter(col("spend_a").isNotNull && col("spend_b").isNotNull)
      census
        .join(broadcast(Tables.df(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
          col("pk_a") === col("p_partkey"))
        .join(broadcast(Tables.df(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
          col("ck_a") === col("c_custkey"))
        .join(broadcast(Tables.df(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("n_repeat"),
          sum(col("spend_a")).cast(DoubleType).as("spend_y1"),
          sum(col("spend_b")).cast(DoubleType).as("spend_y2"))
        .orderBy(col("n_name"), col("p_brand"))
    },

    // TPC-DS Q35/Q69 topology — a census gated by BOTH an EXISTS and a
    // NOT EXISTS against different fact slices, kept as literal
    // semi/anti joins (the Q35 plan shape; q201 covers the fused
    // flag-aggregation variant). At scale both probes are narrow
    // key-only legs: the semi/anti sides project just the join key
    // before the exchange.
    "q241_existence_census" -> { (s, dir) =>
      val c = Tables.df(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      val o = Tables.df(s, dir, "orders")
      val active96 = o.filter(year(col("o_orderdate")) === 1996)
        .select(col("o_custkey").as("a_ck"))
      val lowPrio = o.filter(col("o_orderpriority") === "5-LOW")
        .select(col("o_custkey").as("l_ck"))
      c.join(active96, col("c_custkey") === col("a_ck"), "leftsemi")
        .join(lowPrio, col("c_custkey") === col("l_ck"), "leftanti")
        .join(broadcast(Tables.df(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_name"), col("c_mktsegment"))
    },

    // TPC-DS Q66 topology — the wide manual pivot: per nation x year,
    // TWELVE conditional-sum month columns from ONE fact scan (q91
    // covers the PIVOT clause; warehouses write Q66's CASE matrix by
    // hand when the column set is fixed). Exact decimal cells.
    "q242_ship_month_matrix" -> { (s, dir) =>
      val D = DecimalType(18, 2)
      val mcols = (1 to 12).map(m =>
        sum(when(month(col("l_shipdate")) === m,
          col("l_quantity").cast(D)).otherwise(lit(0).cast(D)))
          .cast(DoubleType).as(f"m$m%02d"))
      Tables.df(s, dir, "lineitem")
        .join(broadcast(Tables.df(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.df(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).as("yr"))
        .agg(mcols.head, mcols.tail: _*)
        .orderBy(col("n_name"), col("yr"))
    },

    // TPC-DS Q76 topology — heterogeneous channel slices unioned with
    // MISSING columns null-extended (unionByName allowMissingColumns —
    // q9 covers same-schema unionByName), then a channel x year census.
    // Each slice carries a column the others lack; the union aligns by
    // NAME and fills nulls, exactly how multi-channel facts with
    // divergent schemas consolidate.
    "q243_channel_union_census" -> { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
      val a = li.filter(col("l_returnflag") === "A")
        .select(lit("air").as("channel"), col("l_shipdate"),
          col("l_extendedprice"), col("l_tax"))
      val n = li.filter(col("l_returnflag") === "N")
        .select(lit("net").as("channel"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      val r = li.filter(col("l_returnflag") === "R")
        .select(lit("retail").as("channel"), col("l_shipdate"),
          col("l_extendedprice"))
      a.unionByName(n, allowMissingColumns = true)
        .unionByName(r, allowMissingColumns = true)
        .groupBy(col("channel"), year(col("l_shipdate")).as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("revenue"),
          count(col("l_tax")).as("n_tax"),
          count(col("l_discount")).as("n_disc"))
        .orderBy(col("channel"), col("yr"))
    },

    // Linear interpolation over a time series with outages — the
    // harder sibling of q209's carry-forward gap fill: months hit by a
    // simulated sensor outage (month % 3 == 0) are reconstructed from
    // the nearest observed neighbors on BOTH sides,
    // prev + (next − prev)·Δt/ΔT, falling back to one-sided carry at
    // the series edges. Two window passes (backward carry, forward
    // carry) over one nation-keyed exchange; values ride as integer
    // cents and integer month indexes so the only double is the final
    // interpolation ratio, computed identically on both engines.
    "q271_linear_interp" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.df(s, dir, "orders")
        .join(broadcast(Tables.df(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.df(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          date_trunc("month", col("o_orderdate")).as("mo"))
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("cents"))
        .withColumn("mi",
          (year(col("mo")) * 12 + month(col("mo"))).cast(LongType))
        .withColumn("outage", month(col("mo")) % 3 === 0)
      val wB = Window.partitionBy(col("n_name")).orderBy(col("mi"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = Window.partitionBy(col("n_name")).orderBy(col("mi"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obs = when(!col("outage"), col("cents"))
      val obsMi = when(!col("outage"), col("mi"))
      val filled = base
        .withColumn("pv", last(obs, ignoreNulls = true).over(wB))
        .withColumn("pt", last(obsMi, ignoreNulls = true).over(wB))
        .withColumn("nv", first(obs, ignoreNulls = true).over(wF))
        .withColumn("nt", first(obsMi, ignoreNulls = true).over(wF))
        .withColumn("est",
          when(!col("outage"), col("cents").cast(DoubleType))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")).cast(DoubleType) *
                (col("mi") - col("pt")).cast(DoubleType) /
                (col("nt") - col("pt")).cast(DoubleType))
            .otherwise(coalesce(col("pv"), col("nv"))
              .cast(DoubleType)))
      filled.select(col("n_name"), col("mo"),
          round(col("est") / 100, 4).as("revenue"),
          col("outage").as("interpolated"))
        .orderBy(col("n_name"), col("mo"))
    },

    // Session bounce-rate report — the product-analytics composition
    // on top of q205's gap-sessionization: per session, depth + FIRST
    // event type (min over a (time, id, type) struct — order-exact),
    // then per-entry-point bounce rate and mean depth. All three
    // window/group passes share the user_id exchange.
    "q267_session_bounce" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsu"), col("event_id"))
      val sess = Tables.df(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
          col("event_id"), col("event_type"))
        .withColumn("brk", when(lag(col("tsu"), 1).over(w).isNull ||
          col("tsu") - lag(col("tsu"), 1).over(w) > 28800000000L, 1)
          .otherwise(0))
        .withColumn("sess", sum(col("brk")).over(w))
      sess.groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("depth"),
          min(struct(col("tsu"), col("event_id"),
            col("event_type").as("et"))).as("fe"))
        .select(col("depth"), col("fe.et").as("first_type"))
        .groupBy(col("first_type"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("depth") === 1, 1L).otherwise(0L)).as("n_bounce"),
          round(avg(col("depth").cast(DoubleType)), 4).as("avg_depth"))
        .withColumn("bounce_rate", round(
          col("n_bounce").cast(DoubleType) / col("n_sessions"), 6))
        .select(col("first_type"), col("n_sessions"), col("n_bounce"),
          col("bounce_rate"), col("avg_depth"))
        .orderBy(col("first_type"))
    },

    // Association rules (market-basket) — support / confidence / lift
    // over co-purchased part pairs: the retail-analytics view of the
    // same co-occurrence structure the graph kernels consume. Exact
    // integer supports; confidences and lift are 6dp-rounded ratios,
    // and the top-50 ordering sorts on the ROUNDED lift with (pa, pb)
    // tie-break so the cutoff is deterministic on both engines.
    "q261_association_rules" -> { (s, dir) =>
      val b = Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val nOrders = b.select(col("ok")).distinct().count()
      val supp = b.groupBy(col("p")).agg(count(lit(1)).as("sp"))
      val pair = b.toDF("ok", "pa")
        .join(b.toDF("ok2", "pb"),
          col("ok") === col("ok2") && col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("spair"))
        .filter(col("spair") >= 5)
      pair
        .join(broadcast(supp.toDF("xa", "sa")), col("pa") === col("xa"))
        .join(broadcast(supp.toDF("xb", "sb")), col("pb") === col("xb"))
        .select(col("pa"), col("pb"), col("spair"), col("sa"), col("sb"),
          round(col("spair").cast(DoubleType) / col("sa"), 6)
            .as("conf_ab"),
          round(col("spair").cast(DoubleType) / col("sb"), 6)
            .as("conf_ba"),
          round(col("spair").cast(DoubleType) * nOrders /
            (col("sa") * col("sb")), 6).as("lift"))
        .orderBy(col("lift").desc, col("pa"), col("pb"))
        .limit(50)
    },

    // Cross-modal quality correlation — do longer documents carry
    // larger embeddings? A text-table x embedding-table equi-join
    // (the id spaces align by construction) feeding Pearson r and an
    // OLS fit (regr_slope/regr_intercept) — one joined scan, one
    // scalar output row; 4dp rounding absorbs the engines' different
    // co-moment accumulation orders.
    "q262_crossmodal_corr" -> { (s, dir) =>
      val d = Tables.df(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast(DoubleType).as("x"))
      val e = Tables.df(s, dir, "embeddings")
        .select(col("vec_id"),
          sqrt(aggregate(transform(col("embedding"),
            v => v.cast(DoubleType) * v.cast(DoubleType)),
            lit(0.0), (a, v) => a + v)).as("y"))
      d.join(e, col("doc_id") === col("vec_id"))
        .agg(count(lit(1)).as("n"),
          round(corr(col("x"), col("y")), 4).as("pearson_r"),
          round(regr_slope(col("y"), col("x")), 6).as("slope"),
          round(regr_intercept(col("y"), col("x")), 4).as("intercept"))
    },

    // BFS distance census via RECURSIVE CTE on a CYCLIC graph — q219's
    // recursion walks an acyclic tree; cyclic graphs need the
    // level-capped UNION ALL + min-distance collapse (node, min(lvl))
    // or the path set explodes unboundedly. Census: how many parts sit
    // at distance 0/1/2 from the seed (Spark caps recursion at 1M rows; the 3-hop path set of this dense graph exceeds it) in the co-purchase graph.
    "q281_bfs_census" -> { (s, dir) =>
      val e = coPurchaseEdges(s, dir)
      e.select(col("u").as("src"), col("v").as("dst"))
        .union(e.select(col("v").as("src"), col("u").as("dst")))
        .createOrReplaceTempView("copurchase_q281")
      val seed = e.agg(min(col("u"))).head().getLong(0)
      s.sql(
        s"""WITH RECURSIVE reach AS (
           |  SELECT CAST($seed AS BIGINT) AS node, 0 AS lvl
           |  UNION ALL
           |  SELECT d.dst, r.lvl + 1 FROM reach r
           |  JOIN copurchase_q281 d ON d.src = r.node
           |  WHERE r.lvl < 2)
           |SELECT dist, count(*) AS n_nodes FROM (
           |  SELECT node, min(lvl) AS dist FROM reach GROUP BY node)
           |GROUP BY dist ORDER BY dist""".stripMargin)
    },

    // Label propagation (community detection) — the FIFTH graph kernel
    // (CC q118 min-combines, PageRank q224 mass-combines; LPA
    // MODE-combines): three synchronous rounds of label(v) := the most
    // frequent neighbor label, ties to the smallest label so every
    // round is deterministic and both engines agree exactly (async LPA
    // is order-dependent — useless for a correctness gate). Each round
    // is one edge-labels hash join + a (node, label) count + a rank-1
    // window; at 100 TB the shuffles carry (node, label, count), never
    // the adjacency payload.
    "q258_label_propagation" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = coPurchaseEdges(s, dir).localCheckpoint()
      val directed = e.select(col("u").as("src"), col("v").as("dst"))
        .union(e.select(col("v").as("src"), col("u").as("dst")))
      var labels = directed.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lab"))
      for (_ <- 1 to 3) {
        // mode with smallest-label tie = argmax over (count, -label) —
        // a second partial-combinable aggregate instead of a per-round
        // window SORT of the (node, label) table. shuffle_hash on the
        // node-grain labels side: builds the hash map on the SMALL
        // relation and spares the edge-grain side a per-round sort.
        // r21: the argmax is the custom flat-buffer DeclarativeAggregate
        // (ArgMaxLong.argmaxCountMinLabel) instead of
        // max_by(lab, struct(c, -lab)) — the struct buffer is not
        // UnsafeRow-mutable, so the mode step planned as a SortAggregate
        // (a full sort of the (node, label) table per round); two long
        // buffer slots make it HashAggregate-eligible with identical
        // values, and labels stay full 64-bit (no ≥2^31 packed-long
        // cliff — the encoding r20 rightly rejected).
        labels = directed
          .join(labels.hint("shuffle_hash"), col("dst") === col("node"))
          .select(col("src").as("v"), col("lab"))
          .groupBy(col("v"), col("lab")).agg(count(lit(1)).as("c"))
          .groupBy(col("v"))
          .agg(graft.functions.ArgMaxLong
            .argmaxCountMinLabel(col("lab"), col("c")).as("lab"))
          .select(col("v").as("node"), col("lab"))
      }
      labels.select(col("node").as("part_id"),
          col("lab").as("community"))
        .orderBy(col("part_id"))
    },

    // Robust anomaly detection — MAD (median absolute deviation)
    // flagging of nation x month revenue: |x - median| > 3 * MAD. The
    // robust twin of q212's mean/variance test (one outlier month
    // cannot drag the threshold the way it drags a stddev). Exactness:
    // revenue is integer CENTS, so every median/MAD is a multiple of
    // 0.5 — exactly representable in double — and the strict-inequality
    // flag is bit-identical on both engines. Two grouped medians + a
    // nation-grain broadcast join back; the fact shuffles once.
    "q252_mad_anomaly" -> { (s, dir) =>
      val m = Tables.df(s, dir, "orders")
        .join(broadcast(Tables.df(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.df(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          date_trunc("month", col("o_orderdate")).as("mo"))
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("cents"))
      val med = m.groupBy(col("n_name").as("m_n"))
        .agg(median(col("cents")).cast(DoubleType).as("med"))
      val mad = m.join(broadcast(med), col("n_name") === col("m_n"))
        .groupBy(col("n_name").as("d_n"))
        .agg(median(abs(col("cents").cast(DoubleType) - col("med")))
          .cast(DoubleType).as("mad"),
          first(col("med")).as("med2"))
      m.join(broadcast(mad), col("n_name") === col("d_n"))
        .select(col("n_name"), col("mo"),
          (col("cents").cast(DoubleType) / 100).as("revenue"),
          (abs(col("cents").cast(DoubleType) - col("med2")) >
            col("mad") * 3).as("anomalous"))
        .orderBy(col("n_name"), col("mo"))
    },

    // Sliding-window DISTINCT users — trailing 3-hour unique-visitor
    // counts per hour. COUNT(DISTINCT) cannot ride a window frame, and
    // a per-hour self-join over the raw stream is O(window x events);
    // the scalable rewrite FANS each event into the <=3 hour-buckets it
    // influences (bounded x3 blowup of a narrow projection), semi-joins
    // to observed hours, and runs one exact distinct-agg per bucket.
    // At 100 TB: one shuffle on (bucket, user), fan-out constant.
    "q245_sliding_distinct" -> { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
        .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      val fan = ev.select(explode(array((0 to 2).map(k =>
          col("h") + expr(s"INTERVAL $k HOURS")): _*)).as("bucket"),
        col("user_id"))
      val hours = ev.select(col("h").as("bucket")).distinct()
      fan.join(hours, Seq("bucket"), "leftsemi")
        .groupBy(col("bucket"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("bucket"))
    },

    // Approximate sliding distinct — the production form of q245 at
    // 100 TB: per trailing-3h bucket, HLL++ (approx_count_distinct at
    // 2% rsd) next to the exact count, emitting the error-bound
    // boolean (q67's oracle pattern — DuckDB verifies the exact count
    // and that the sketch landed inside the bound; the sketch value
    // itself is engine-specific). Sketches make the distinct
    // mergeable, so the bucket agg partial-aggregates map-side where
    // exact distinct cannot.
    "q275_sliding_hll" -> { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
        .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      val fan = ev.select(explode(array((0 to 2).map(k =>
          col("h") + expr(s"INTERVAL $k HOURS")): _*)).as("bucket"),
        col("user_id"))
      val hours = ev.select(col("h").as("bucket")).distinct()
      fan.join(hours, Seq("bucket"), "leftsemi")
        .groupBy(col("bucket"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
        .select(col("bucket"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <=
            greatest(col("n_exact") / 10, lit(3L))).as("within_bound"))
        .orderBy(col("bucket"))
    },

    // Event-transition matrix — the product-analytics Markov census:
    // per user, consecutive event pairs via LEAD over (ts, event_id),
    // then a (from, to) count with per-source transition probability
    // from a window-partitioned total. One user-keyed exchange for the
    // sequencing, one tiny census shuffle.
    "q246_event_transitions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.df(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast(DoubleType) /
          sum(col("n")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("from_type"))), 6))
        .orderBy(col("from_type"), col("to_type"))
    },

    // TPC-DS Q90 topology — ratio of two filtered counts of the same
    // fact in one pass (no self-join): am/pm event traffic per type.
    // One scan, one shuffle; the reference would run this as two
    // FILTERed partial aggs exactly like Spark's plan.
    "q231_ampm_ratio" -> { (s, dir) =>
      Tables.df(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(when(hour(col("ts")) < 12, 1)).as("n_am"),
          count(when(hour(col("ts")) >= 12, 1)).as("n_pm"),
          sum(when(hour(col("ts")) < 12, col("value"))).as("am_value"))
        .select(col("event_type"), col("n_am"), col("n_pm"),
          round(col("n_am").cast(DoubleType) /
            col("n_pm").cast(DoubleType), 6).as("ampm_ratio"),
          round(col("am_value"), 4).as("am_value"))
        .orderBy(col("event_type"))
    }
  )

  /** DuckDB side of q315: the 4 peel rounds unrolled as CTE chains
    * over the same co-purchase edge base as q227's oracle. */
  private val q315OracleSql: String = {
    val roundsSql = (1 to 4).map { r =>
      s"""d$r AS MATERIALIZED (SELECT x, count(*) AS d FROM (
         |  SELECT u AS x FROM e${r - 1}
         |  UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1),
         |k$r AS MATERIALIZED (SELECT x FROM d$r WHERE d >= 3),
         |e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
         |  WHERE u IN (SELECT x FROM k$r)
         |    AND v IN (SELECT x FROM k$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey
       |      AND a.l_partkey < b.l_partkey),
       |$roundsSql
       |SELECT x AS node, count(*) AS deg FROM (
       |  SELECT u AS x FROM e4 UNION ALL SELECT v FROM e4)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    "q367_rich_club" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey < b.l_partkey),
        |deg AS MATERIALIZED (
        |  SELECT x, count(*) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |club AS (
        |  SELECT x FROM (
        |    SELECT x, row_number() OVER (ORDER BY d DESC, x) AS rk
        |    FROM deg) WHERE rk <= 100),
        |ce AS (
        |  SELECT count(*) AS n_club_edges FROM e
        |  WHERE u IN (SELECT x FROM club)
        |    AND v IN (SELECT x FROM club))
        |SELECT
        |  (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  n_club_edges,
        |  round(n_club_edges::DOUBLE / (100.0 * 99.0 / 2.0), 6)
        |    AS phi_club,
        |  round((SELECT count(*) FROM e)::DOUBLE /
        |    ((SELECT count(*) FROM deg)::DOUBLE *
        |     ((SELECT count(*) FROM deg) - 1) / 2.0), 6)
        |    AS density_all
        |FROM ce""".stripMargin,
    "q340_partition_advisor" ->
      """SELECT CAST(CAST(date_trunc('month', l_shipdate) AS DATE)
        |    AS VARCHAR) AS m,
        |  count(*) AS n_rows,
        |  CAST(sum(68 + strlen(l_returnflag) + strlen(l_linestatus))
        |    AS BIGINT) AS est_bytes,
        |  greatest(1, CAST(ceil(
        |    sum(68 + strlen(l_returnflag) + strlen(l_linestatus))
        |      / (128.0 * 1024 * 1024)) AS BIGINT)) AS rec_files
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q339_theil_sen" ->
      """WITH monthly AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS x,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS vd
        |  FROM orders GROUP BY 1),
        |pairs AS (
        |  SELECT CAST(b.vd - a.vd AS DOUBLE) / (b.x - a.x) AS slope
        |  FROM monthly a JOIN monthly b ON a.x < b.x),
        |sen AS (
        |  SELECT quantile_disc(slope, 0.5) AS sen_slope,
        |    count(*) AS n_pairs FROM pairs),
        |c AS (
        |  SELECT x, CAST(vd * 100 AS HUGEINT) AS vc FROM monthly),
        |m AS (
        |  SELECT count(*) AS n_months, sum(x) AS sx, sum(vc) AS sy,
        |    sum(x * vc) AS sxy, sum(x * x) AS sxx
        |  FROM c)
        |SELECT n_months, n_pairs, round(sen_slope, 2) AS sen_slope,
        |  round(CAST(n_months * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_months * sxx - sx * sx AS DOUBLE) / 100.0, 2)
        |    AS ols_slope
        |FROM sen, m""".stripMargin,
    "q334_cohens_kappa" ->
      """WITH d AS (
        |  SELECT (n_chars >= 500) AS a,
        |    (len(string_split(text, ' ')) >= 90) AS b
        |  FROM documents),
        |c AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01
        |  FROM d),
        |p AS (
        |  SELECT n, n11, n00, n10, n01,
        |    (n11 + n00)::DOUBLE / n AS po,
        |    ((n11 + n10)::DOUBLE / n) * ((n11 + n01)::DOUBLE / n) +
        |    ((n00 + n01)::DOUBLE / n) * ((n00 + n10)::DOUBLE / n)
        |      AS pe
        |  FROM c)
        |SELECT n, n11, n00, n10, n01, round(po, 6) AS po,
        |  round(pe, 6) AS pe,
        |  round((po - pe) / (1.0 - pe), 6) AS kappa
        |FROM p""".stripMargin,
    "q335_forecast_backtest" ->
      """WITH monthly AS (
        |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS mo,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS vd
        |  FROM orders GROUP BY 1, 2),
        |j AS (
        |  SELECT m.y, m.vd, f.vd AS fc,
        |    CAST(abs(CAST(m.vd - f.vd AS DOUBLE))
        |      / CAST(m.vd AS DOUBLE) AS DECIMAL(18,8)) AS ape
        |  FROM monthly m JOIN monthly f
        |    ON m.y = f.y + 1 AND m.mo = f.mo)
        |SELECT y, count(*) AS n_months,
        |  round(CAST(sum(ape) AS DOUBLE) / count(*), 6) AS mape,
        |  round(CAST(sum(vd - fc) AS DOUBLE)
        |    / CAST(sum(vd) AS DOUBLE), 6) AS bias
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q328_hierarchy_shares" ->
      """WITH pn AS (
        |  SELECT r_name AS region, n_name AS nation,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revd
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT region, nation, revd,
        |    sum(revd) OVER (PARTITION BY region) AS reg_rev,
        |    sum(revd) OVER () AS tot_rev,
        |    row_number() OVER (PARTITION BY region
        |      ORDER BY revd DESC, nation) AS rk
        |  FROM pn)
        |SELECT region, nation, CAST(revd AS DOUBLE) AS revenue,
        |  round(CAST(revd AS DOUBLE) / CAST(reg_rev AS DOUBLE), 6)
        |    AS share_in_region,
        |  round(CAST(revd AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
        |    AS share_of_total,
        |  rk AS rk_in_region
        |FROM w ORDER BY region, rk_in_region""".stripMargin,
    "q329_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag, l_extendedprice AS v,
        |    CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
        |  FROM lineitem),
        |c AS (
        |  SELECT flag, v, w,
        |    sum(w) OVER (PARTITION BY flag
        |      ORDER BY v, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cumw
        |  FROM li),
        |tot AS (
        |  SELECT flag, sum(w) AS totw, count(*) AS n_lines
        |  FROM li GROUP BY 1)
        |SELECT c.flag, min(v) AS wmedian, min(n_lines) AS n_lines,
        |  CAST(min(totw) AS BIGINT) AS total_weight
        |FROM c JOIN tot ON c.flag = tot.flag
        |WHERE cumw * 2 >= totw
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q326_feature_scaling" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS prio, o_totalprice AS x
        |  FROM orders),
        |stats AS (
        |  SELECT prio, count(*) AS n,
        |    sum(CAST(x AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(x * x AS DECIMAL(28,4))) AS sxx,
        |    quantile_disc(x, 0.25) AS p25,
        |    quantile_disc(x, 0.75) AS p75,
        |    min(x) AS mn, max(x) AS mx
        |  FROM o GROUP BY 1),
        |enriched AS (
        |  SELECT prio, n, sx, sxx, p25, p75, mn, mx,
        |    CAST(sx AS DOUBLE) / n AS mean,
        |    sqrt(CAST(sxx AS DOUBLE) / n -
        |      (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
        |      AS sd
        |  FROM stats)
        |SELECT o.prio, count(*) AS n,
        |  CAST(sum(CASE WHEN abs(x - mean) > 2.0 * sd THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_z2,
        |  CAST(sum(CASE WHEN x > p75 + 1.5 * (p75 - p25) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_iqr_high,
        |  CAST(sum(CASE WHEN x > mn + 0.95 * (mx - mn) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_top5
        |FROM o JOIN enriched ON o.prio = enriched.prio
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q327_cusum_changepoint" ->
      """WITH monthly AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS vd
        |  FROM orders GROUP BY 1),
        |cents AS (
        |  SELECT m, vd, CAST(vd * 100 AS HUGEINT) AS vc FROM monthly),
        |st AS (
        |  SELECT count(*) AS n, sum(vc) AS svc, sum(vc * vc) AS svv
        |  FROM cents),
        |en AS (
        |  SELECT n, svc,
        |    sqrt(CAST(svv AS DOUBLE) / n -
        |      (CAST(svc AS DOUBLE) / n) * (CAST(svc AS DOUBLE) / n))
        |      AS sdc
        |  FROM st),
        |dev AS (
        |  SELECT m, vd, vc * n - svc AS dev, n, sdc
        |  FROM cents, en),
        |cus AS (
        |  SELECT m, vd, n, sdc,
        |    sum(dev) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cusum_n
        |  FROM dev)
        |SELECT CAST(m AS VARCHAR) AS m,
        |  CAST(vd AS DOUBLE) AS revenue,
        |  round(CAST(cusum_n AS DOUBLE) / (n * 100.0), 2) AS cusum,
        |  abs(CAST(cusum_n AS DOUBLE)) > 2.0 * sdc * n AS shifted
        |FROM cus ORDER BY m""".stripMargin,
    "q324_ab_test" ->
      """WITH expo AS (
        |  SELECT user_id, min(ts) AS exposure FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |fp AS (
        |  SELECT e.user_id, min(ts) AS fp FROM events e
        |  JOIN expo ON e.user_id = expo.user_id
        |  WHERE event_type = 'purchase' AND ts > exposure
        |  GROUP BY 1),
        |flagged AS (
        |  SELECT CASE WHEN substr(md5(
        |      'ab' || CAST(expo.user_id AS VARCHAR)), 1, 2) < '80'
        |      THEN 'A' ELSE 'B' END AS variant,
        |    (fp.fp IS NOT NULL
        |      AND fp.fp <= exposure + INTERVAL 6 HOUR) AS converted
        |  FROM expo LEFT JOIN fp ON expo.user_id = fp.user_id)
        |SELECT variant, count(*) AS n_users,
        |  CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_converters,
        |  round(sum(CASE WHEN converted THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS conv_rate
        |FROM flagged GROUP BY 1 ORDER BY 1""".stripMargin,
    "q325_ordered_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |t1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(ts) AS t2 FROM ev e
        |       JOIN t1 ON e.user_id = t1.user_id
        |       WHERE event_type = 'click' AND ts > t1.t1
        |         AND ts <= t1.t1 + INTERVAL 6 HOUR GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(ts) AS t3 FROM ev e
        |       JOIN t2 ON e.user_id = t2.user_id
        |       WHERE event_type = 'purchase' AND ts > t2.t2
        |         AND ts <= t2.t2 + INTERVAL 6 HOUR
        |       GROUP BY 1)
        |SELECT count(*) AS n_viewed,
        |  count(t2.t2) AS n_clicked_after,
        |  count(t3.t3) AS n_purchased_after
        |FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
        |LEFT JOIN t3 ON t1.user_id = t3.user_id""".stripMargin,
    "q322_apriori_triples" ->
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey % 500 AS p
        |  FROM lineitem),
        |f1 AS MATERIALIZED (
        |  SELECT p FROM items GROUP BY p HAVING count(*) >= 2),
        |fi AS MATERIALIZED (
        |  SELECT ok, p FROM items WHERE p IN (SELECT p FROM f1)),
        |p2 AS MATERIALIZED (
        |  SELECT a.p AS pa, b.p AS pb
        |  FROM fi a JOIN fi b ON a.ok = b.ok AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a.p AS a, b.p AS b, c.p AS c, count(*) AS support
        |FROM fi a
        |JOIN fi b ON a.ok = b.ok AND a.p < b.p
        |JOIN p2 x ON x.pa = a.p AND x.pb = b.p
        |JOIN fi c ON a.ok = c.ok AND b.p < c.p
        |JOIN p2 y ON y.pa = a.p AND y.pb = c.p
        |JOIN p2 z ON z.pa = b.p AND z.pb = c.p
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY support DESC, a, b, c LIMIT 15""".stripMargin,
    "q321_link_prediction" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey < b.l_partkey),
        |deg AS MATERIALIZED (
        |  SELECT x, count(*) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v, u FROM e),
        |cn AS MATERIALIZED (
        |  SELECT a.dst AS x, b.dst AS y, count(*) AS cn
        |  FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
        |  GROUP BY 1, 2)
        |SELECT cn.x AS x, cn.y AS y, cn.cn AS cn,
        |  CAST(cn.cn AS DOUBLE) / (dx.d + dy.d - cn.cn) AS jac
        |FROM cn
        |JOIN deg dx ON cn.x = dx.x JOIN deg dy ON cn.y = dy.x
        |WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE u = cn.x AND v = cn.y)
        |ORDER BY cn DESC, jac DESC, x, y LIMIT 20""".stripMargin,
    "q320_seasonal_decompose" ->
      """WITH monthly AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS vd
        |  FROM orders GROUP BY 1),
        |trended AS (
        |  SELECT m, vd,
        |    CAST(sum(vd) OVER w AS DOUBLE) / 3.0 AS trend,
        |    count(*) OVER w AS n_win
        |  FROM monthly
        |  WINDOW w AS (ORDER BY m ROWS BETWEEN 1 PRECEDING
        |    AND 1 FOLLOWING)),
        |detrended AS (
        |  SELECT m, vd, trend,
        |    CAST(CAST(vd AS DOUBLE) - trend AS DECIMAL(18,6)) AS detr
        |  FROM trended WHERE n_win = 3),
        |seasonal AS (
        |  SELECT month(m) AS moy,
        |    CAST(sum(detr) AS DOUBLE) / count(*) AS seasonal
        |  FROM detrended GROUP BY 1)
        |SELECT CAST(d.m AS VARCHAR) AS m,
        |  CAST(vd AS DOUBLE) AS revenue,
        |  round(trend, 4) AS trend,
        |  round(seasonal, 4) AS seasonal,
        |  round(CAST(detr AS DOUBLE) - seasonal, 4) AS residual
        |FROM detrended d JOIN seasonal ON month(d.m) = moy
        |ORDER BY m""".stripMargin,
    "q315_kcore_peel" -> q315OracleSql,
    "q316_or_join_union" ->
      """WITH p AS (
        |  SELECT c_custkey, s_suppkey,
        |    CASE WHEN c_nationkey = s_nationkey THEN 1 ELSE 0 END AS fn,
        |    CASE WHEN c_custkey % 50 = s_suppkey % 50 THEN 1 ELSE 0 END
        |      AS fm
        |  FROM customer JOIN supplier
        |    ON c_nationkey = s_nationkey
        |      OR c_custkey % 50 = s_suppkey % 50)
        |SELECT count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN fn = 1 AND fm = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN fn = 1 AND fm = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nation_only,
        |  CAST(sum(CASE WHEN fn = 0 AND fm = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mod_only
        |FROM p""".stripMargin,
    "q308_above_avg_returns" ->
      """WITH per AS (
        |  SELECT o_custkey AS custkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount)
        |        AS DECIMAL(18,4))) AS total_ret
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' GROUP BY 1),
        |wn AS (
        |  SELECT custkey, n_nationkey, n_name, total_ret
        |  FROM per JOIN customer ON custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |nat AS (
        |  SELECT n_nationkey, sum(total_ret) AS nat_sum,
        |    count(*) AS n_cust
        |  FROM wn GROUP BY 1)
        |SELECT custkey, n_name AS nation,
        |  CAST(total_ret AS DOUBLE) AS total_ret
        |FROM wn JOIN nat USING (n_nationkey)
        |WHERE total_ret * 10 * n_cust > nat_sum * 12
        |ORDER BY custkey""".stripMargin,
    "q310_woe_binning" ->
      """WITH bnds AS (
        |  SELECT [quantile_disc(o_totalprice, 0.1),
        |    quantile_disc(o_totalprice, 0.2),
        |    quantile_disc(o_totalprice, 0.3),
        |    quantile_disc(o_totalprice, 0.4),
        |    quantile_disc(o_totalprice, 0.5),
        |    quantile_disc(o_totalprice, 0.6),
        |    quantile_disc(o_totalprice, 0.7),
        |    quantile_disc(o_totalprice, 0.8),
        |    quantile_disc(o_totalprice, 0.9)] AS b FROM orders),
        |binned AS (
        |  SELECT len(list_filter(b, x -> o_totalprice > x)) + 1 AS bin,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS good
        |  FROM orders, bnds),
        |per AS (
        |  SELECT bin, count(*) AS n,
        |    CAST(sum(good) AS BIGINT) AS n_good,
        |    CAST(count(*) - sum(good) AS BIGINT) AS n_bad
        |  FROM binned GROUP BY bin),
        |tot AS (
        |  SELECT sum(n_good) AS tot_good, sum(n_bad) AS tot_bad
        |  FROM per)
        |SELECT bin, n, n_good, n_bad,
        |  round(ln((n_good / tot_good) / (n_bad / tot_bad)), 4) AS woe,
        |  round(((n_good / tot_good) - (n_bad / tot_bad)) *
        |    ln((n_good / tot_good) / (n_bad / tot_bad)), 6) AS iv_part
        |FROM per, tot ORDER BY bin""".stripMargin,
    "q311_funnel_latency" ->
      """WITH per AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'click' THEN ts END)
        |      AS first_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END)
        |      AS first_purchase
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |lat AS (
        |  SELECT date_diff('second', first_click, first_purchase)
        |    AS lat_s
        |  FROM per
        |  WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
        |    AND first_purchase > first_click)
        |SELECT count(*) AS n_converters,
        |  CAST(quantile_disc(lat_s, 0.5) AS DOUBLE) AS p50_s,
        |  CAST(quantile_disc(lat_s, 0.9) AS DOUBLE) AS p90_s,
        |  min(lat_s) AS min_s, max(lat_s) AS max_s
        |FROM lat""".stripMargin,
    "q307_skyline" ->
      """WITH d AS (SELECT DISTINCT round(p_retailprice, 2) AS price,
        |                           p_size AS sz FROM part)
        |SELECT price, sz FROM d a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM d b
        |  WHERE b.price <= a.price AND b.sz <= a.sz
        |    AND (b.price < a.price OR b.sz < a.sz))
        |ORDER BY price""".stripMargin,
    "q236_quality_audit" ->
      """WITH li AS (
        |  SELECT count(*) AS n_li,
        |    count(*) FILTER (l_shipdate IS NULL) AS v_null_ship,
        |    count(*) FILTER (l_quantity <= 0) AS v_qty,
        |    count(*) FILTER (l_discount NOT BETWEEN 0 AND 1) AS v_disc
        |  FROM lineitem),
        |dup AS (
        |  SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS v_dup
        |  FROM (SELECT count(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)),
        |orphan AS (
        |  SELECT count(*) AS v_orphan FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders
        |                    WHERE o_orderkey = l_orderkey)),
        |ord AS (
        |  SELECT count(*) AS n_ord,
        |    count(*) FILTER (o_totalprice <= 0) AS v_price FROM orders)
        |SELECT * FROM (
        |  SELECT 'lineitem.discount_range' AS check_name,
        |    v_disc AS n_violations, n_li AS n_checked,
        |    v_disc = 0 AS pass FROM li
        |  UNION ALL SELECT 'lineitem.duplicate_pk', v_dup, n_li,
        |    v_dup = 0 FROM li, dup
        |  UNION ALL SELECT 'lineitem.fk_orders', v_orphan, n_li,
        |    v_orphan = 0 FROM li, orphan
        |  UNION ALL SELECT 'lineitem.positive_qty', v_qty, n_li,
        |    v_qty = 0 FROM li
        |  UNION ALL SELECT 'lineitem.shipdate_not_null', v_null_ship,
        |    n_li, v_null_ship = 0 FROM li
        |  UNION ALL SELECT 'orders.positive_total', v_price, n_ord,
        |    v_price = 0 FROM ord
        |) ORDER BY check_name""".stripMargin,
    "q238_assortativity" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |directed AS (
        |  SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v, u FROM e),
        |p AS (
        |  SELECT CAST(ds.d AS HUGEINT) AS x, CAST(dt.d AS HUGEINT) AS y
        |  FROM directed
        |  JOIN deg ds ON ds.node = src JOIN deg dt ON dt.node = dst),
        |m AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sx2,
        |    sum(y*y) AS sy2 FROM p)
        |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE) /
        |    sqrt(CAST(n*sx2 - sx*sx AS DOUBLE) *
        |         CAST(n*sy2 - sy*sy AS DOUBLE)), 6) AS assortativity
        |FROM m""".stripMargin,
    "q227_triangle_count" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT x, count(*) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN du.d <= dv.d THEN u ELSE v END AS src,
        |         CASE WHEN du.d <= dv.d THEN v ELSE u END AS dst
        |  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
        |w AS (
        |  SELECT a.dst AS x, b.dst AS y
        |  FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst),
        |tri AS (
        |  SELECT count(*) AS n_triangles FROM w
        |  WHERE EXISTS (SELECT 1 FROM e WHERE e.u = w.x AND e.v = w.y)),
        |ne AS (SELECT count(*) AS n_edges FROM e),
        |nw AS (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT)
        |         AS n_open_wedges FROM deg)
        |SELECT n_edges, n_open_wedges, n_triangles,
        |  round(n_triangles * 3.0 / n_open_wedges, 6) AS global_cc
        |FROM ne, nw, tri""".stripMargin,
    "q232_disjunctive_dim" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size <= 25)
        |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 15 AND 40)
        |   OR (p_brand = 'Brand#5' AND p_size >= 30)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q233_returns_netting" ->
      """WITH ret AS (
        |  SELECT l_orderkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(4,2)))) AS ret_value
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN ret_value IS NULL THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_with_returns,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) -
        |    coalesce(ret_value, 0)) AS DOUBLE) AS net_value
        |FROM orders LEFT JOIN ret ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q234_first_purchase_window" ->
      """WITH first AS (
        |  SELECT o_custkey AS f_custkey, min(o_orderdate) AS first_dt
        |  FROM orders GROUP BY 1),
        |follow AS (
        |  SELECT f_custkey, first_dt, count(*) AS n_follow,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS follow_rev
        |  FROM orders JOIN first ON o_custkey = f_custkey
        |    AND o_orderdate > first_dt
        |    AND o_orderdate <= first_dt + INTERVAL 90 DAY
        |  GROUP BY 1, 2)
        |SELECT date_trunc('month', first_dt) AS cohort,
        |  count(*) AS n_customers,
        |  CAST(sum(n_follow) AS BIGINT) AS n_follow_orders,
        |  CAST(sum(follow_rev) AS DOUBLE) AS follow_revenue
        |FROM follow GROUP BY 1 ORDER BY cohort""".stripMargin,
    "q275_sliding_hll" ->
      """WITH ev AS (
        |  SELECT date_trunc('hour', ts) AS h, user_id FROM events),
        |hours AS (SELECT DISTINCT h FROM ev)
        |SELECT hours.h AS bucket, count(DISTINCT e.user_id) AS n_exact,
        |  TRUE AS within_bound
        |FROM hours JOIN ev e
        |  ON e.h <= hours.h AND e.h >= hours.h - INTERVAL 2 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q271_linear_interp" ->
      """WITH base AS (
        |  SELECT n_name, date_trunc('month', o_orderdate) AS mo,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS cents,
        |    year(date_trunc('month', o_orderdate)) * 12 +
        |      month(date_trunc('month', o_orderdate)) AS mi,
        |    month(date_trunc('month', o_orderdate)) % 3 = 0 AS outage
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT *,
        |    last_value(CASE WHEN NOT outage THEN cents END IGNORE NULLS)
        |      OVER wb AS pv,
        |    last_value(CASE WHEN NOT outage THEN mi END IGNORE NULLS)
        |      OVER wb AS pt,
        |    first_value(CASE WHEN NOT outage THEN cents END IGNORE NULLS)
        |      OVER wf AS nv,
        |    first_value(CASE WHEN NOT outage THEN mi END IGNORE NULLS)
        |      OVER wf AS nt
        |  FROM base
        |  WINDOW wb AS (PARTITION BY n_name ORDER BY mi
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY n_name ORDER BY mi
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT n_name, mo,
        |  round(CASE WHEN NOT outage THEN CAST(cents AS DOUBLE)
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      pv + CAST(nv - pv AS DOUBLE) * CAST(mi - pt AS DOUBLE)
        |        / CAST(nt - pt AS DOUBLE)
        |    ELSE CAST(coalesce(pv, nv) AS DOUBLE) END / 100, 4)
        |    AS revenue,
        |  outage AS interpolated
        |FROM f ORDER BY n_name, mo""".stripMargin,
    "q267_session_bounce" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |    event_id, event_type
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |      OR tsu - lag(tsu) OVER w > 28800000000 THEN 1 ELSE 0 END
        |      AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY tsu, event_id)),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g),
        |per AS (
        |  SELECT user_id, sess, count(*) AS depth,
        |    min(CASE WHEN rn = 1 THEN event_type END) AS first_type
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |          ORDER BY tsu, event_id) AS rn FROM s)
        |  GROUP BY 1, 2)
        |SELECT first_type, count(*) AS n_sessions,
        |  CAST(count(*) FILTER (depth = 1) AS BIGINT) AS n_bounce,
        |  round(count(*) FILTER (depth = 1)::DOUBLE / count(*), 6)
        |    AS bounce_rate,
        |  round(avg(depth), 4) AS avg_depth
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q261_association_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem),
        |n AS (SELECT count(DISTINCT ok) AS total FROM b),
        |supp AS (SELECT p, count(*) AS sp FROM b GROUP BY 1),
        |pair AS (
        |  SELECT a.p AS pa, c.p AS pb, count(*) AS spair
        |  FROM b a JOIN b c ON a.ok = c.ok AND a.p < c.p
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT pa, pb, spair, x.sp AS sa, y.sp AS sb,
        |  round(spair::DOUBLE / x.sp, 6) AS conf_ab,
        |  round(spair::DOUBLE / y.sp, 6) AS conf_ba,
        |  round(spair::DOUBLE * total / (x.sp * y.sp), 6) AS lift
        |FROM pair JOIN supp x ON pa = x.p JOIN supp y ON pb = y.p, n
        |ORDER BY lift DESC, pa, pb LIMIT 50""".stripMargin,
    "q262_crossmodal_corr" ->
      """SELECT count(*) AS n,
        |  round(corr(x, y), 4) AS pearson_r,
        |  round(regr_slope(y, x), 6) AS slope,
        |  round(regr_intercept(y, x), 4) AS intercept
        |FROM (
        |  SELECT CAST(n_chars AS DOUBLE) AS x,
        |    sqrt(list_sum(list_transform(embedding::DOUBLE[],
        |      v -> v * v))) AS y
        |  FROM documents JOIN embeddings ON doc_id = vec_id)""".stripMargin,
    "q281_bfs_census" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |d AS (SELECT u AS src, v AS dst FROM e
        |      UNION ALL SELECT v, u FROM e),
        |reach(node, lvl) AS (
        |  SELECT (SELECT min(u) FROM e), 0
        |  UNION ALL
        |  SELECT d.dst, r.lvl + 1 FROM reach r
        |  JOIN d ON d.src = r.node WHERE r.lvl < 2)
        |SELECT dist, count(*) AS n_nodes FROM (
        |  SELECT node, min(lvl) AS dist FROM reach GROUP BY node)
        |GROUP BY dist ORDER BY dist""".stripMargin,
    "q258_label_propagation" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |d AS (SELECT u AS src, v AS dst FROM e
        |      UNION ALL SELECT v, u FROM e),
        |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM d),
        |r1 AS (
        |  SELECT v AS node, lab FROM (
        |    SELECT d.src AS v, l.lab, count(*) AS c,
        |      row_number() OVER (PARTITION BY d.src
        |        ORDER BY count(*) DESC, l.lab) AS rk
        |    FROM d JOIN l0 l ON l.node = d.dst GROUP BY d.src, l.lab)
        |  WHERE rk = 1),
        |r2 AS (
        |  SELECT v AS node, lab FROM (
        |    SELECT d.src AS v, l.lab, count(*) AS c,
        |      row_number() OVER (PARTITION BY d.src
        |        ORDER BY count(*) DESC, l.lab) AS rk
        |    FROM d JOIN r1 l ON l.node = d.dst GROUP BY d.src, l.lab)
        |  WHERE rk = 1),
        |r3 AS (
        |  SELECT v AS node, lab FROM (
        |    SELECT d.src AS v, l.lab, count(*) AS c,
        |      row_number() OVER (PARTITION BY d.src
        |        ORDER BY count(*) DESC, l.lab) AS rk
        |    FROM d JOIN r2 l ON l.node = d.dst GROUP BY d.src, l.lab)
        |  WHERE rk = 1)
        |SELECT node AS part_id, CAST(lab AS BIGINT) AS community
        |FROM r3 ORDER BY part_id""".stripMargin,
    "q252_mad_anomaly" ->
      """WITH m AS (
        |  SELECT n_name, date_trunc('month', o_orderdate) AS mo,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |med AS (
        |  SELECT n_name AS m_n, CAST(median(cents) AS DOUBLE) AS med
        |  FROM m GROUP BY 1),
        |mad AS (
        |  SELECT n_name AS d_n,
        |    CAST(median(abs(CAST(cents AS DOUBLE) - med)) AS DOUBLE)
        |      AS mad,
        |    any_value(med) AS med2
        |  FROM m JOIN med ON n_name = m_n GROUP BY 1)
        |SELECT n_name, mo, CAST(cents AS DOUBLE) / 100 AS revenue,
        |  abs(CAST(cents AS DOUBLE) - med2) > mad * 3 AS anomalous
        |FROM m JOIN mad ON n_name = d_n
        |ORDER BY n_name, mo""".stripMargin,
    "q245_sliding_distinct" ->
      """WITH ev AS (
        |  SELECT date_trunc('hour', ts) AS h, user_id FROM events),
        |hours AS (SELECT DISTINCT h FROM ev)
        |SELECT hours.h AS bucket, count(DISTINCT e.user_id) AS n_users
        |FROM hours JOIN ev e
        |  ON e.h <= hours.h AND e.h >= hours.h - INTERVAL 2 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q246_event_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |census AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    count(*) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6)
        |    AS p
        |FROM census ORDER BY from_type, to_type""".stripMargin,
    "q241_existence_census" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND year(o_orderdate) = 1996)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '5-LOW')
        |GROUP BY n_name, c_mktsegment
        |ORDER BY n_name, c_mktsegment""".stripMargin,
    "q242_ship_month_matrix" ->
      ("""SELECT n_name, year(l_shipdate) AS yr,""" +
        (1 to 12).map(m =>
          s"""
             |  CAST(sum(CASE WHEN month(l_shipdate) = $m
             |    THEN CAST(l_quantity AS DECIMAL(18,2))
             |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             |    AS m${"%02d".format(m)}""".stripMargin)
          .mkString(",") +
        """
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name, yr ORDER BY n_name, yr""".stripMargin),
    "q243_channel_union_census" ->
      """WITH u AS (
        |  SELECT 'air' AS channel, l_shipdate, l_extendedprice,
        |    l_tax, NULL::DOUBLE AS l_discount
        |  FROM lineitem WHERE l_returnflag = 'A'
        |  UNION ALL
        |  SELECT 'net', l_shipdate, l_extendedprice, NULL, l_discount
        |  FROM lineitem WHERE l_returnflag = 'N'
        |  UNION ALL
        |  SELECT 'retail', l_shipdate, l_extendedprice, NULL, NULL
        |  FROM lineitem WHERE l_returnflag = 'R')
        |SELECT channel, year(l_shipdate) AS yr, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  count(l_tax) AS n_tax, count(l_discount) AS n_disc
        |FROM u GROUP BY channel, yr ORDER BY channel, yr""".stripMargin,
    "q239_repeat_buyers" ->
      """WITH sa AS (
        |  SELECT o_custkey AS ck, l_partkey AS pk,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(4,2)))) AS spend_a
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE year(o_orderdate) = 1996 GROUP BY 1, 2),
        |sb AS (
        |  SELECT o_custkey AS ck, l_partkey AS pk,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(4,2)))) AS spend_b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE year(o_orderdate) = 1997 GROUP BY 1, 2)
        |SELECT n_name, p_brand, count(*) AS n_repeat,
        |  CAST(sum(spend_a) AS DOUBLE) AS spend_y1,
        |  CAST(sum(spend_b) AS DOUBLE) AS spend_y2
        |FROM sa JOIN sb ON sa.ck = sb.ck AND sa.pk = sb.pk
        |JOIN part ON sa.pk = p_partkey
        |JOIN customer ON sa.ck = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, p_brand
        |ORDER BY n_name, p_brand""".stripMargin,
    "q230_frequent_trips" ->
      """WITH census AS (
        |  SELECT o_custkey, count(*) AS n_trips,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS spend
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    AND year(o_orderdate) BETWEEN 1996 AND 1998
        |  GROUP BY 1 HAVING count(*) BETWEEN 4 AND 7)
        |SELECT c_custkey, c_name, c_mktsegment, n_name, n_trips, spend
        |FROM census
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_trips DESC, c_custkey""".stripMargin,
    "q231_ampm_ratio" ->
      """SELECT event_type,
        |  count(*) FILTER (hour(ts) < 12) AS n_am,
        |  count(*) FILTER (hour(ts) >= 12) AS n_pm,
        |  round((count(*) FILTER (hour(ts) < 12))::DOUBLE /
        |        (count(*) FILTER (hour(ts) >= 12))::DOUBLE, 6)
        |    AS ampm_ratio,
        |  round(sum(value) FILTER (hour(ts) < 12), 4) AS am_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
