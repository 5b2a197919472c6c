package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Join surface (SURVEY §2.3). The reference has no join operator —
  * joins exist as foreign keys in its data model (comments.docketId →
  * docket_info.id, comments.commentOn → documents.objectId;
  * convert_to_iceberg.py:726-768 co-locates the three tables). Here the
  * FK joins are expressed over the synthetic star schema.
  *
  * Scale design: dimension tables (customer/nation/region ≈ docket_info)
  * are orders of magnitude smaller than the fact tables → explicit
  * `broadcast()` hints so the plan is a BroadcastHashJoin (no shuffle of
  * the fact side). At 100 TB the fact-fact join (lineitem⋈orders) stays
  * a shuffled hash/sort-merge join on the key — that one SHOULD shuffle;
  * AQE handles skewed keys (skewJoin.enabled in GraftSession).
  */
object JoinQueries {

  /** j1 — fact ⋈ broadcast dimension + aggregate (comments⋈docket_info
    * analog). */
  val j1 = Q(
    "j1_join_broadcast",
    (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment"),
    Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** j2 — three-way join: shuffled fact⋈fact (lineitem⋈orders) then a
    * broadcast dim (customer). comments⋈documents analog.
    *
    * '''This is the UNBUCKETED CONTROL for [[j2b]]''' — it pays the
    * full 60M+15M-row exchange on every execution by design, to keep
    * the ad-hoc-join baseline measurable. A production pipeline that
    * joins these facts repeatedly on this key should ship [[j2b]]'s
    * bucketed layout, not this plan (2.7–3× faster at x100 after the
    * one-time layout; SCALE_PROBES.md).
    *
    * The fact⋈fact side carries an explicit SHUFFLE_HASH hint: at 100 TB
    * both fact tables are far past any broadcast threshold, so the only
    * viable plan is a shuffle on the join key — the hint makes the small-SF
    * plan the same shape as the at-scale plan instead of letting the
    * optimizer broadcast a fact table it could never broadcast in
    * production. Hash rather than merge because count-per-segment needs
    * no sort order and SHJ skips both sorts; AQE's skew-join splitting
    * still applies.
    *
    * Hint audited round 14 (the retired J2HintProbe main, recorded in
    * SCALE_PROBES.md):
    * unhinted AQE broadcasts the orders FACT at sf0.1 (0.37 s — fast
    * locally, impossible at 100 TB) and picks SortMergeJoin at x10;
    * at x10 the pinned SHUFFLE_HASH wins every scale-representative
    * comparison (4.61 s vs AQE's SMJ 4.75 s vs hinted merge 4.90 s),
    * so the hint stays. PlanSpec pins the ShuffledHashJoin shape. */
  val j2 = Q(
    "j2_join_3way",
    (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("c_mktsegment"),
    Some("""SELECT c_mktsegment, COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** The bucketed fact layout behind [[j2b]]: lineitem and orders
    * written ONCE per fixture dir as bucketed+sorted managed tables on
    * their join key ([[graft.maintain.Bucketing.writeBucketed]], same
    * bucket count both sides — sizing rule in Bucketing's scaladoc).
    * Idempotent per (session catalog, dir): an existing layout is
    * reused when its one-row `__meta` table matches the source dir's
    * filesystem fingerprint — a metadata-only check (no fact-table
    * scan; the r15 verdict flagged the previous double `count()`
    * validation as seconds of pure overhead at x100). This is the
    * serving-index pattern applied to join layout: the one-time write
    * is the amortized cost, every query on the key plans with NO
    * Exchange after it.
    *
    * The memo keys on `sessionUUID` (stable and unique for the
    * session's catalog lifetime) — identityHashCode can be reused
    * after GC and would skip re-validation for a fresh session. */
  private val validatedLayouts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Stable unique id for a session's catalog lifetime, minted into
    * the session's own RuntimeConfig (per-session SQLConf) on first
    * use. Unlike identityHashCode it can never be reused by a later
    * session after GC (ADVICE r15). Callers hold `validatedLayouts`'s
    * lock, so mint-then-set is race-free. */
  private def sessionId(s: org.apache.spark.sql.SparkSession): String = {
    val key = "graft.internal.sessionId"
    s.conf.getOption(key).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      s.conf.set(key, id)
      id
    }
  }

  private[graft] def bucketedFacts(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      buckets: Int = 32): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val tag = java.lang.Integer.toHexString(d.hashCode) +
      (if (buckets == 32) "" else s"_$buckets")
    // check-then-build serializes under one lock: two first
    // executions racing DROP + fs.delete + writeBucketed against the
    // same warehouse path would otherwise corrupt the layout and
    // memoize the wreck
    def ensure(name: String, src: org.apache.spark.sql.DataFrame,
        key: String): org.apache.spark.sql.DataFrame =
      validatedLayouts.synchronized {
      val full = s"graft_${name}_bkt_$tag"
      val memoKey = s"${sessionId(s)}:$full"
      if (validatedLayouts.contains(memoKey)) return s.table(full)
      val fp = graft.maintain.Bucketing.sourceFingerprint(
        s, s"$d/$name.parquet")
      if (!graft.maintain.Bucketing.layoutValid(s, full, fp, buckets, key)) {
        // the in-memory catalog is per-session but the warehouse dir
        // persists: an orphan location from a previous session blocks
        // CREATE TABLE, so clear both the entry and the directory
        for (t <- Seq(full, s"${full}__meta")) {
          s.sql(s"DROP TABLE IF EXISTS $t")
          val loc = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), t)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(loc)) fs.delete(loc, true)
        }
        graft.maintain.Bucketing.writeBucketed(src, full, key, buckets,
          sourceFingerprint = Some(fp))
      }
      validatedLayouts.add(memoKey)
      s.table(full)
    }
    (ensure("lineitem", Tables.lineitem(s, d), "l_orderkey"),
      ensure("orders", Tables.orders(s, d), "o_orderkey"))
  }

  /** j2b — j2's aggregation over the BUCKETED fact layout: both fact
    * tables pre-bucketed (and sorted) on the join key, so the
    * lineitem⋈orders join plans with NO Exchange on either side — the
    * at-scale answer to j2's recurring 60M+15M-row shuffle (measured:
    * the retired J2BucketedProbe main, 3× faster at the x100 tier
    * after a one-time 13.7 s layout; SCALE_PROBES.md). The `merge` hint keeps the
    * small-SF plan the at-scale shape (a broadcast of a fact table
    * would mask the layout exactly the way j2's scaladoc describes).
    * Shares j2's oracle verbatim — the layout must change the plan,
    * never the rows. */
  val j2b = Q(
    "j2b_bucketed_3way",
    (s, d) => {
      // 64 buckets: the r16 decomposition probe measured 64 as the
      // local[32] sweet spot (2.64 s vs 32-bucket 3.08 s at x100 —
      // the 60M-row side wants ~2 tasks/core of scheduling slack);
      // sizing rule in Bucketing's scaladoc, full per-axis record in
      // SCALE_PROBES.md (the retired J2bDecompProbe/J2bChampionProbe)
      val (li, ord) = bucketedFacts(s, d, buckets = 64)
      li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("c_mktsegment")
    },
    j2.oracle)

  /** j3 — left-semi existence (dockets having comments analog). */
  val j3 = Q(
    "j3_semi_join",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_cust_with_orders")),
    Some("""SELECT COUNT(*) AS n_cust_with_orders FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""))

  /** j4 — left-anti (dockets with no comments analog). */
  val j4 = Q(
    "j4_anti_join",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_cust_no_orders")),
    Some("""SELECT COUNT(*) AS n_cust_no_orders FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""))

  /** j6 — as-of join (custom operator, graft.operators.AsofJoin): for
    * every click event, the last purchase value at-or-before it by the
    * same user. One shuffle (union+window), no per-key quadratic work;
    * the oracle is DuckDB's native ASOF LEFT JOIN. Timestamps are
    * formatted to µs strings for hash parity (events.parquet is ns;
    * both engines truncate ns→µs — Spark in Tables.events, DuckDB via
    * CAST(ts AS TIMESTAMP)). */
  /** Shared as-of fixture: clicks probe purchases. The build side is
    * collapsed to one row per (user, ts) with an event_id-arg-max
    * tiebreak (AsofJoin.dedupeBuild) so ties at equal microsecond
    * timestamps — possible after the ns→µs truncation at larger scale
    * factors — resolve deterministically; the oracle mirrors the same
    * arg_max pre-aggregation. */
  private def asofSides(s: org.apache.spark.sql.SparkSession, d: String) = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = graft.operators.AsofJoin.dedupeBuild(
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("event_id")),
      "user_id", "ts", Seq("value"), tiebreakCol = "event_id")
    (clicks, purchases)
  }

  private def asofProject(df: org.apache.spark.sql.DataFrame) =
    df.select(
      col("event_id"),
      round(col("value"), 4).as("purchase_val"),
      date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .as("purchase_ts"))
      .orderBy("event_id")

  private val asofOracle =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                         event_type, value FROM events),
            pd AS (SELECT user_id, ts, arg_max(value, event_id) AS value
                   FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts)
       SELECT c.event_id,
              ROUND(p.value, 4) AS purchase_val,
              strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
       FROM (SELECT * FROM e WHERE event_type = 'click') c
       ASOF LEFT JOIN pd p
         ON c.user_id = p.user_id AND c.ts >= p.ts
       ORDER BY c.event_id"""

  val j6 = Q(
    "j6_asof_join",
    (s, d) => {
      val (clicks, purchases) = asofSides(s, d)
      asofProject(graft.operators.AsofJoin
        .asofJoin(clicks, "user_id", "ts",
          purchases, "user_id", "ts", Seq("value"), Some("purchase_ts")))
    },
    Some(asofOracle))

  /** j6b — the skew-safe bucketed as-of join (window per (key, day)
    * instead of per key: a hot user parallelizes across days). Same
    * semantics, same oracle as j6 — the strongest possible check that
    * the two formulations agree. */
  val j6b = Q(
    "j6b_asof_bucketed",
    (s, d) => {
      val (clicks, purchases) = asofSides(s, d)
      asofProject(graft.operators.AsofJoin
        .asofJoinBucketed(clicks, "user_id", "ts",
          purchases, "user_id", "ts", Seq("value"), Some("purchase_ts"))(
          ts => date_trunc("day", ts)))
    },
    Some(asofOracle))

  /** u1 — union with schema drift: the reference's pandas implicitly
    * unions rows with differing key sets (convert_to_iceberg.py:678);
    * Spark-first that is unionByName(allowMissingColumns) — absent
    * column ≡ NULL, exactly the reference's absent-attribute semantics. */
  val u1 = Q(
    "u1_union_drift",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("id"),
        lit("order").as("kind"),
        col("o_totalprice").as("amount"),
        col("o_orderpriority").as("priority"))
      val e = Tables.events(s, d).select(
        col("event_id").as("id"),
        lit("event").as("kind"),
        col("value").as("amount"))
      o.unionByName(e, allowMissingColumns = true)
        .orderBy("kind", "id")
        .limit(1000)
    },
    Some("""SELECT * FROM (
              SELECT o_orderkey AS id, 'order' AS kind,
                     o_totalprice AS amount, o_orderpriority AS priority
              FROM orders
              UNION ALL
              SELECT event_id, 'event', value, NULL FROM events)
            ORDER BY kind, id LIMIT 1000"""))

  /** u2 — INTERSECT (distinct set semantics on both engines): high-value
    * order keys that also have a bulky line item. Catalyst plans set
    * intersect as aggregate + left-semi join — shuffles on the key,
    * map-side partial dedup applies. */
  val u2 = Q(
    "u2_intersect",
    (s, d) =>
      Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("okey"))
        .intersect(
          Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
            .select(col("l_orderkey").as("okey")))
        .orderBy("okey"),
    Some("""SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 400000
            INTERSECT
            SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45
            ORDER BY okey"""))

  /** u3 — EXCEPT (distinct): high-value order keys with NO bulky line
    * item (the set-algebra twin of the j4 anti join). */
  val u3 = Q(
    "u3_except",
    (s, d) =>
      Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("okey"))
        .except(
          Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
            .select(col("l_orderkey").as("okey")))
        .orderBy("okey"),
    Some("""SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 400000
            EXCEPT
            SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45
            ORDER BY okey"""))

  /** j9 — bloom-pruned LEFT SEMI (runtime-filter shape): lineitem
    * against urgent high-value orders. The bloom sketch drops
    * cannot-match rows inside the probe's codegen stage before any
    * exchange; no false negatives, so the result is row-identical to
    * the plain semi join — which is exactly what the oracle's IN
    * subquery checks. fpp only affects how much verify work the exact
    * join does, never the rows out. */
  val j9 = Q(
    "j9_bloom_semi",
    (s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 200000)
        .select("o_orderkey")
      graft.operators.BloomJoin
        .semiJoin(Tables.lineitem(s, d), urgent,
          probeKey = "l_orderkey", buildKey = "o_orderkey",
          expectedItems = 20000L, fpp = 0.01)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n_items,
                   ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT'
                                   AND o_totalprice > 200000)
            GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** j10 — bloom-pruned LEFT ANTI twin: line items whose order is NOT
    * in the urgent set; definite-miss rows bypass the exact anti join
    * entirely (they are the overwhelming majority at scale). */
  val j10 = Q(
    "j10_bloom_anti",
    (s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 200000)
        .select("o_orderkey")
      graft.operators.BloomJoin
        .antiJoin(Tables.lineitem(s, d), urgent,
          probeKey = "l_orderkey", buildKey = "o_orderkey",
          expectedItems = 20000L, fpp = 0.01)
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },
    Some("""SELECT COUNT(*) AS n_items,
                   COUNT(DISTINCT l_orderkey) AS n_orders
            FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                     WHERE o_orderpriority = '1-URGENT'
                                       AND o_totalprice > 200000)"""))

  def all: Seq[Q] = Seq(j1, j2, j2b, j3, j4, j6, j6b, j9, j10, u1, u2, u3)
}
