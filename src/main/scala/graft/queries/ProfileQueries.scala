package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-profiling pass (SURVEY §2.4 A7/A11–A13). The reference profiles
  * per column with eager pandas (`simple_iceberg_exploration.py:344-378`,
  * `demo_optimized_data.py:137-169`) — one pass per statistic. Here the
  * whole profile is ONE distributed pass: a single wide aggregate row
  * (count + non-null count + distinct per column) melted to long format
  * with `stack`.
  *
  * Scale note: `countDistinct` over many columns plans an Expand (one
  * shuffle, data duplicated per distinct column) — acceptable for a
  * profiling pass; the 100 TB default is `approx_count_distinct` (HLL++
  * sketch, map-side mergeable, no raw-value shuffle), exposed in
  * `profileApprox`.
  */
object ProfileQueries {

  /** Generic schema-driven profile: (col_name, n_nonnull, n_distinct). */
  def profile(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', `nn_$c`, `nd_$c`").mkString(", ")
    wide
      .selectExpr(
        s"stack(${cols.length}, $stackArgs) AS (col_name, n_nonnull, n_distinct)")
      .orderBy("col_name")
  }

  /** Same profile with HLL++ distinct sketches — the 100 TB default. */
  def profileApprox(df: DataFrame, rsd: Double = 0.05): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      approx_count_distinct(col(c), rsd).as(s"nd_$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', `nn_$c`, `nd_$c`").mkString(", ")
    wide
      .selectExpr(
        s"stack(${cols.length}, $stackArgs) AS (col_name, n_nonnull, n_distinct)")
      .orderBy("col_name")
  }

  /** a13 — exact one-pass profile of `orders`, oracle-checked. */
  val a13 = Q(
    "a13_column_profile",
    (s, d) => profile(Tables.orders(s, d)),
    Some(Seq("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority",
      "o_orderstatus", "o_totalprice")
      .map(c =>
        s"""SELECT '$c' AS col_name, COUNT($c) AS n_nonnull,
              COUNT(DISTINCT $c) AS n_distinct FROM orders""")
      .mkString("", " UNION ALL ", " ORDER BY col_name")))

  /** a7x — approx distinct (HLL++), oracle-checked as a tolerance
    * assertion: the sketch estimate itself is engine-specific (DuckDB
    * cannot reproduce Spark's HLL++), but |approx − exact| ≤ 15% of
    * exact is a deterministic boolean — HLL++ register merge is
    * order-independent, so the estimate doesn't vary with
    * partitioning — and the oracle recomputes the exact count and
    * asserts TRUE. Pins both the exact path and the sketch's accuracy
    * contract (rsd 0.05; 15% = 3σ headroom, zero flake risk). */
  val a7x = Q(
    "a7x_approx_distinct",
    (s, d) =>
      Tables.orders(s, d).agg(
        countDistinct(col("o_custkey")).as("exact_cust"),
        approx_count_distinct(col("o_custkey"), 0.05).as("approx_raw"))
        .select(
          col("exact_cust"),
          (abs(col("approx_raw") - col("exact_cust")) <=
            col("exact_cust").cast("double") * 0.15).as("within_tol")),
    Some("""SELECT COUNT(DISTINCT o_custkey) AS exact_cust,
                   TRUE AS within_tol
            FROM orders"""))

  /** dtype profile (A13 metadata half): schema-only, no scan at all. */
  def dtypes(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, table).schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toDF("col_name", "dtype", "nullable")
  }

  /** a13x — dtype profile, oracle-checked: both engines read the same
    * parquet footer and the SQL maps DuckDB's type names onto the
    * `simpleString`s the ENGINE surfaces (BIGINT→bigint,
    * VARCHAR→string). Timestamps: the fixtures store naive
    * TIMESTAMP(MICROS) — DuckDB reads them as wall-clock TIMESTAMP,
    * while the engine deliberately infers session-tz `timestamp`
    * (inferTimestampNTZ=false in GraftSession, UTC session zone — see
    * the rationale there), so naive TIMESTAMP maps to `timestamp`;
    * an explicitly UTC-adjusted TIMESTAMPTZ column would too. Schema
    * drift in the fixture changes both sides together, so this pins
    * the MAPPING, not a frozen literal list. */
  val a13x = Q(
    "a13x_dtypes",
    (s, d) => dtypes(s, d, "orders").orderBy("col_name"),
    Some("""SELECT column_name AS col_name,
                   CASE column_type
                     WHEN 'BIGINT' THEN 'bigint'
                     WHEN 'INTEGER' THEN 'int'
                     WHEN 'DOUBLE' THEN 'double'
                     WHEN 'FLOAT' THEN 'float'
                     WHEN 'VARCHAR' THEN 'string'
                     WHEN 'DATE' THEN 'date'
                     WHEN 'BOOLEAN' THEN 'boolean'
                     WHEN 'TIMESTAMP' THEN 'timestamp'
                     WHEN 'TIMESTAMP WITH TIME ZONE' THEN 'timestamp'
                     ELSE lower(column_type)
                   END AS dtype,
                   ("null" = 'YES') AS nullable
            FROM (DESCRIBE SELECT * FROM orders)
            ORDER BY col_name"""))

  /** a21 — range-distinct from per-day HLL sketches (the incremental
    * pattern `operators/DistinctSketches` persists): union the
    * overlapping daily sketches instead of rescanning raw rows, then
    * pin |estimate − exact| ≤ 15% against the exact count — same
    * tolerance-oracle shape as a7x. DataSketches union is register-
    * maxima, order-independent, so the boolean is deterministic. */
  val a21 = Q(
    "a21_hll_range_distinct",
    (s, d) => {
      import graft.operators.DistinctSketches
      val ev = Tables.events(s, d)
      val daily = DistinctSketches.sketchPerBucket(
        ev.withColumn("day", to_date(col("ts"))), "day", "user_id")
      val approx = daily
        .filter(col("bucket").between("2024-01-02", "2024-01-09"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))")
          .as("approx"))
      val exact = ev
        .filter(to_date(col("ts")).between("2024-01-02", "2024-01-09"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.crossJoin(broadcast(approx))
        .select(
          col("exact_users"),
          (abs(col("approx") - col("exact_users")) <=
            col("exact_users").cast("double") * 0.15).as("within_tol"))
    },
    Some("""SELECT COUNT(DISTINCT user_id) AS exact_users,
                   TRUE AS within_tol
            FROM events
            WHERE CAST(ts AS DATE)
                  BETWEEN DATE '2024-01-02' AND DATE '2024-01-09'"""))

  /** dq1 — declarative data-quality report over orders (+ referential
    * integrity against customer), one lazy plan, oracle-recomputed
    * check by check in SQL. */
  val dq1 = Q(
    "dq1_quality_report",
    (s, d) => {
      import graft.maintain.Quality
      val orders = Tables.orders(s, d)
      Quality.fullReport(
        orders,
        Seq(
          Quality.notNull("o_orderkey"),
          Quality.unique("o_orderkey"),
          Quality.notNull("o_custkey"),
          Quality.inRange("o_totalprice", 0.0, 1e6),
          Quality.matches("o_orderpriority", "^[1-5]-[A-Z ]+$")),
        ri = Seq(Quality.referential(
          orders, "o_custkey",
          Tables.customer(s, d), "c_custkey", "customer.c_custkey")))
    },
    Some("""SELECT "check", violations, (violations = 0) AS passed
            FROM (
              SELECT 'in_range:o_totalprice' AS "check",
                     COUNT(CASE WHEN o_totalprice < 0
                                  OR o_totalprice > 1000000 THEN 1 END)
                       AS violations FROM orders
              UNION ALL
              SELECT 'matches:o_orderpriority',
                     COUNT(CASE WHEN o_orderpriority IS NOT NULL AND
                       NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                       THEN 1 END) FROM orders
              UNION ALL
              SELECT 'not_null:o_custkey',
                     COUNT(CASE WHEN o_custkey IS NULL THEN 1 END)
              FROM orders
              UNION ALL
              SELECT 'not_null:o_orderkey',
                     COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END)
              FROM orders
              UNION ALL
              SELECT 'ri:o_custkey->customer.c_custkey',
                     (SELECT COUNT(*) FROM orders
                      WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
                        (SELECT c_custkey FROM customer))
              UNION ALL
              SELECT 'unique:o_orderkey',
                     COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)
              FROM orders) t
            ORDER BY "check" """))

  /** a22 — range quantiles from per-day equal-width histogram
    * sketches (`operators/HistogramSketch` — the quantile twin of
    * a21's HLL tables): merge the overlapping daily histograms by
    * per-bin addition and walk the cumulative counts, instead of
    * rescanning and sorting raw rows. The DOMAIN is fixed a priori
    * ([0, 500), 64 bins → width 7.8125), so the oracle re-derives the
    * whole estimate — binning, merge, cumulative walk, within-bin
    * interpolation — in SQL, and additionally pins
    * |est − exact quantile_cont| ≤ one bin width (the histogram
    * error bound) as a deterministic boolean. */
  private val histLo = 0.0
  private val histHi = 500.0
  private val histBins = 64
  private val histQs = Seq(0.25, 0.5, 0.75, 0.9)

  /** Shared tail of the a22 family: quantile estimates from the
    * (already range-filtered) histogram rows, joined against the
    * exact percentiles with the one-bin-width error bound pinned. */
  private def histQuantileRows(
      hist: org.apache.spark.sql.DataFrame,
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.operators.HistogramSketch
    val est = HistogramSketch.rangeQuantiles(
      hist, histLo, histHi, histBins, histQs)
    val exact = ev
      .filter(to_date(col("ts")).between("2024-01-02", "2024-01-09"))
      .agg(percentile(col("value"),
        array(histQs.map(lit(_)): _*)).as("exact_qs"))
    est.crossJoin(broadcast(exact))
      .select(
        col("q"), col("n_range"),
        round(col("est"), 4).as("est_q"),
        (abs(col("est") -
          element_at(col("exact_qs"),
            array_position(array(histQs.map(lit(_)): _*), col("q"))
              .cast("int"))) <= lit((histHi - histLo) / histBins))
          .as("within_binwidth"))
      .orderBy("q")
  }

  val a22 = Q(
    "a22_hist_range_quantile",
    (s, d) => {
      import graft.operators.HistogramSketch
      val ev = Tables.events(s, d)
      val daily = HistogramSketch.histogramPerBucket(
        ev.withColumn("day", to_date(col("ts"))), "day", "value",
        histLo, histHi, histBins)
      histQuantileRows(
        daily.filter(col("bucket").between("2024-01-02", "2024-01-09")),
        ev)
    },
    Some(histQuantileOracle))

  /** The same audit driven off a PERSISTED histogram table read back
    * through manifest file-skipping — the incremental-maintenance
    * story of [[graft.operators.HistogramSketch]] end-to-end (the way
    * a21 is the end-to-end story for the HLL sketch tables): the
    * per-day histogram is committed as a snapshot table
    * range-partitioned on the bucket into 8 files with per-file
    * bucket stats in its manifest, and the range read plans only the
    * files whose bucket range can overlap — at 100 TB the read cost is
    * the days asked for, not table history. Identical rows to a22
    * (HistogramSketchSpec pins that the pruned read really skips
    * files; the oracle is shared verbatim). */
  val a22x = Q(
    "a22x_hist_table_pruned",
    (s, d) => {
      val hist = graft.maintain.Snapshots.readVersionWhereTime(
          s, histTable(s, d), 1L, "bucket", "2024-01-02", "2024-01-09")
        .filter(col("bucket").between("2024-01-02", "2024-01-09"))
      histQuantileRows(hist, Tables.events(s, d))
    },
    Some(histQuantileOracle))

  /** a22x's per-day histogram table: a one-version snapshot table at a
    * deterministic per-fixture scratch path, built ONCE per fixture —
    * a persisted sketch table is write-once/read-many, so repeated
    * bench/verify passes exercise only the pruned READ path (fixtures
    * are immutable; delete target/ to rebuild). 8 files range-
    * partitioned on the bucket, with per-file bucket stats. */
  private[graft] def histTable(s: SparkSession, d: String): String = {
    import graft.maintain.Snapshots
    import graft.operators.HistogramSketch
    val path = "target/hist_snap_" + java.lang.Integer.toHexString(d.hashCode)
    if (Snapshots.versions(s, path) != Seq(1L)) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Snapshots.create(
        HistogramSketch.histogramPerBucket(
          Tables.events(s, d).withColumn("day", to_date(col("ts"))),
          "day", "value", histLo, histHi, histBins)
          .repartitionByRange(8, col("bucket")),
        path, statsCols = Seq("bucket"))
    }
    path
  }

  /** a23 — range quantiles from per-day KLL sketches
    * (`operators/QuantileSketches`): no a-priori domain, a normalized
    * RANK-error contract instead of the histogram's value bound. KLL
    * compaction randomizes, so the oracle pins the contract, not the
    * estimate (the a21 HLL pattern): Spark recomputes each
    * estimate's TRUE normalized rank over the raw range and asserts
    * |rank(est) − q| ≤ 0.05 (3× the k=200 ε — deterministically true
    * in practice), and DuckDB re-derives the exact quantiles and
    * count and asserts TRUE. */
  val a23 = Q(
    "a23_kll_range_quantile",
    (s, d) => {
      import graft.operators.QuantileSketches
      val qs = Seq(0.25, 0.5, 0.75, 0.9)
      val ev = Tables.events(s, d)
      val daily = QuantileSketches.sketchPerBucket(
        ev.withColumn("day", to_date(col("ts"))), "day", "value")
      val est = QuantileSketches.rangeQuantiles(
        daily.filter(col("bucket").between("2024-01-02", "2024-01-09")),
        qs)
      val rng = ev
        .filter(to_date(col("ts")).between("2024-01-02", "2024-01-09"))
        .select(col("value"))
      // true normalized rank of each estimate, plus exact quantiles
      val ranked = rng
        .crossJoin(broadcast(est))
        .groupBy("q")
        .agg(
          count(lit(1)).as("n_range"),
          avg(when(col("value") <= col("est"), 1.0).otherwise(0.0))
            .as("est_rank"))
      val exact = rng.agg(percentile(col("value"),
        array(qs.map(lit(_)): _*)).as("exact_qs"))
      ranked.crossJoin(broadcast(exact))
        .select(
          col("q"),
          col("n_range"),
          round(element_at(col("exact_qs"),
            array_position(array(qs.map(lit(_)): _*), col("q"))
              .cast("int")), 4).as("exact_q"),
          (abs(col("est_rank") - col("q")) <= lit(0.05)).as("within_rank_tol"))
        .orderBy("q")
    },
    Some("""WITH rng AS (
              SELECT value FROM events
              WHERE CAST(ts AS DATE)
                    BETWEEN DATE '2024-01-02' AND DATE '2024-01-09'),
            qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]::DOUBLE[]) AS q),
            x AS (
              SELECT quantile_cont(value, [0.25, 0.5, 0.75, 0.9]) AS eq,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM rng)
            SELECT q, x.n AS n_range,
                   ROUND(x.eq[CASE q WHEN 0.25 THEN 1
                                     WHEN 0.5 THEN 2
                                     WHEN 0.75 THEN 3
                                     ELSE 4 END], 4) AS exact_q,
                   TRUE AS within_rank_tol
            FROM qs, x
            ORDER BY q"""))

  /** a24 — week-over-week user retention from per-day THETA sketches
    * (`operators/ThetaSketches`): |users(week1) ∩ users(week2)| by
    * unioning each week's daily sketches and intersecting the two —
    * the overlap question the HLL table (a21) cannot answer. The
    * fixture's per-day distinct users sit far below the lgK=14
    * retained-entry budget, so the sketches are in EXACT mode and
    * the estimate must equal the true overlap; the audit still emits
    * the a21-style tolerance boolean (|est − exact| ≤ 5%) as the
    * contract that holds when a 100 TB corpus pushes the sketches
    * into estimation. */
  val a24 = Q(
    "a24_theta_week_overlap",
    (s, d) => {
      import graft.operators.ThetaSketches
      val ev = Tables.events(s, d)
      val daily = ThetaSketches.sketchPerBucket(
        ev.withColumn("day", to_date(col("ts"))), "day", "user_id")
      val est = ThetaSketches.overlapEstimate(
        daily,
        col("bucket").between("2024-01-01", "2024-01-07"),
        col("bucket").between("2024-01-08", "2024-01-14"))
      val wk1 = ev.filter(
        to_date(col("ts")).between("2024-01-01", "2024-01-07"))
        .select("user_id").distinct()
      val wk2 = ev.filter(
        to_date(col("ts")).between("2024-01-08", "2024-01-14"))
        .select("user_id").distinct()
      val exact = wk1.join(wk2, Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("exact_overlap"))
      exact.crossJoin(broadcast(est))
        .select(
          col("exact_overlap"),
          (abs(col("overlap_est") - col("exact_overlap")) <=
            col("exact_overlap").cast("double") * 0.05)
            .as("within_tol"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS exact_overlap,
                   TRUE AS within_tol
            FROM (
              SELECT DISTINCT user_id FROM events
              WHERE CAST(ts AS DATE)
                    BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'
              INTERSECT
              SELECT DISTINCT user_id FROM events
              WHERE CAST(ts AS DATE)
                    BETWEEN DATE '2024-01-08' AND DATE '2024-01-14')"""))

  // def, not val: referenced by a22/a22x above during object init —
  // a later-declared val would still be null at that point
  private def histQuantileOracle: String = """WITH rng AS (
              SELECT value FROM events
              WHERE CAST(ts AS DATE)
                    BETWEEN DATE '2024-01-02' AND DATE '2024-01-09'),
            binned AS (
              SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 7.8125)
                       AS INTEGER), 0), 63) AS b,
                     COUNT(*) AS n
              FROM rng GROUP BY 1),
            cum AS (
              SELECT b, n, SUM(n) OVER (ORDER BY b) AS cumv FROM binned),
            tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM binned),
            qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]::DOUBLE[]) AS q),
            tgt AS (
              SELECT q, GREATEST(1, CAST(CEIL(q * total) AS BIGINT)) AS target,
                     total
              FROM qs, tot),
            hitb AS (
              SELECT t.q, t.target, t.total, MIN(c.b) AS b
              FROM tgt t JOIN cum c ON c.cumv >= t.target
              GROUP BY t.q, t.target, t.total),
            est AS (
              SELECT h.q, h.total AS n_range,
                     0.0 + 7.8125 * (CAST(h.b AS DOUBLE) +
                       CAST(h.target - (c.cumv - c.n) AS DOUBLE) /
                       CAST(c.n AS DOUBLE)) AS est
              FROM hitb h JOIN cum c ON c.b = h.b),
            exact AS (
              SELECT quantile_cont(value, [0.25, 0.5, 0.75, 0.9]) AS eq
              FROM rng)
            SELECT e.q, e.n_range, ROUND(e.est, 4) AS est_q,
                   (ABS(e.est - x.eq[CASE e.q WHEN 0.25 THEN 1
                                              WHEN 0.5 THEN 2
                                              WHEN 0.75 THEN 3
                                              ELSE 4 END]) <= 7.8125)
                     AS within_binwidth
            FROM est e, exact x
            ORDER BY e.q"""

  def all: Seq[Q] = Seq(a13, a7x, a13x, a21, a22, a22x, a23, a24, dq1)
}
