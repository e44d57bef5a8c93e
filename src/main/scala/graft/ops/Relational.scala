package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.util.Tables._
import graft.util.Det._

/** SURVEY.md §2 categories A (scans), B (project/filter), C (joins),
  * D (aggregations), F (sorts/top-k), G (set ops).
  *
  * Every query ends with a total-order ORDER BY incl. a unique tiebreak and
  * emits doubles either bit-exactly (raw parquet values / DECIMAL-accumulated
  * sums) or round(4) (statistical) — see [[graft.util.Det]].
  *
  * 100 TB posture (applies to every operator below): scans push filters +
  * projection into parquet; joins to sub-broadcast-threshold dims are
  * explicitly `broadcast()`; fact-fact joins shuffle on their equi keys with
  * map-side partial aggregation before any exchange; nothing collects to the
  * driver. The trailing global sort is the harness's determinism contract —
  * at production scale the same queries run without it (or write
  * range-partitioned sorted output).
  */
object Relational {

  // ----- A. scans ----------------------------------------------------------

  val scan_parquet: Q = (s, d) =>
    lineitem(s, d)
      .where(col("l_orderkey") % 100 === 7)
      .orderBy("l_orderkey", "l_linenumber")

  val scan_pruned: Q = (s, d) =>
    lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
      .where(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .orderBy("l_orderkey", "l_linenumber")

  val scan_events_ns: Q = (s, d) =>
    events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id")

  // ----- B. projection / filters ------------------------------------------

  val proj_compute: Q = (s, d) =>
    lineitem(s, d)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity").as("qty"),
        dec6(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("double").as("disc_price"),
        dec6(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).cast("double").as("charge"))
      .orderBy("l_orderkey", "l_linenumber")

  val filt_conj: Q = (s, d) =>
    orders(s, d)
      .where(
        col("o_orderpriority").like("%URGENT") &&
          col("o_orderstatus").isin("F", "O") &&
          col("o_totalprice") > 150000 &&
          col("o_custkey").isNotNull)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .orderBy("o_orderkey")

  val filt_case: Q = (s, d) =>
    orders(s, d)
      .withColumn(
        "prio_class",
        when(col("o_orderpriority").like("1-%") ||
          col("o_orderpriority").like("2-%"), "high")
          .when(col("o_orderpriority").like("3-%"), "mid")
          .otherwise("low"))
      .groupBy("prio_class")
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .orderBy("prio_class")

  val filt_between: Q = (s, d) =>
    lineitem(s, d)
      .where(col("l_shipdate").between(
        lit("1998-01-01").cast("timestamp"),
        lit("1998-03-31").cast("timestamp")))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  // ----- C. joins ----------------------------------------------------------

  /** dim side ≤ 20k rows → explicit broadcast; at 100 TB the fact side
    * streams map-side with zero shuffle for this join. */
  val join_bhj: Q = (s, d) =>
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_items"),
        moneySum6(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy("p_brand")

  /** both sides large → shuffle on the join key; `merge` hint pins SMJ so the
    * named query provably exercises sort-merge (asserted in tests). */
  val join_smj: Q = (s, d) =>
    lineitem(s, d)
      .hint("merge")
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), moneySum(col("l_quantity")).as("qty"))
      .orderBy("o_orderpriority")

  val join_left: Q = (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(moneySum(col("o_totalprice")), lit(0.0)).as("spent"))
      .orderBy("c_custkey")

  val join_full: Q = (s, d) => {
    val nc = customer(s, d).groupBy(col("c_nationkey").as("nk_c"))
      .agg(count(lit(1)).as("n_cust"))
    val ns = supplier(s, d).groupBy(col("s_nationkey").as("nk_s"))
      .agg(count(lit(1)).as("n_supp"))
    nc.join(ns, col("nk_c") === col("nk_s"), "full")
      .select(
        coalesce(col("nk_c"), col("nk_s")).as("nk"),
        col("n_cust"), col("n_supp"))
      .orderBy("nk")
  }

  val join_semi: Q = (s, d) =>
    customer(s, d)
      .join(
        orders(s, d).where(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  val join_anti: Q = (s, d) =>
    part(s, d)
      .join(
        lineitem(s, d).where(col("l_quantity") >= 48),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select("p_partkey", "p_name", "p_brand")
      .orderBy("p_partkey")

  /** equi component (nation) carries the shuffle; the inequality is a
    * post-join filter — stays a hash/merge join, never a BNLJ. */
  val join_theta: Q = (s, d) =>
    supplier(s, d)
      .join(
        customer(s, d),
        col("s_nationkey") === col("c_nationkey") &&
          col("s_acctbal") > col("c_acctbal"))
      .select("s_suppkey", "c_custkey", "s_nationkey")
      .orderBy("s_suppkey", "c_custkey")

  /** null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other — the dimension-with-unknown-bucket join plain `=` would
    * silently drop. Both sides derive a nullable bucket (nationkey % 7,
    * 0 → NULL) so the null-null match is actually exercised, not
    * vacuously true. Scale note: EqualNullSafe is still an EQUI key to
    * Catalyst — hash-partitionable (null hashes like any value), so the
    * join stays BHJ/SMJ and never degrades to a nested loop; that's the
    * reason to prefer `<=>` over the `(a = b OR (a IS NULL AND b IS
    * NULL))` rewrite, which is non-equi and forces BNLJ. */
  val join_nullsafe: Q = (s, d) => {
    def bucket(c: Column): Column =
      when(c % 7 === 0, lit(null)).otherwise(c % 7).cast("int")
    val sup = supplier(s, d)
      .select(bucket(col("s_nationkey")).as("k"), col("s_suppkey"))
    val cust = customer(s, d)
      .select(bucket(col("c_nationkey")).as("ck"), col("c_custkey"))
    sup.join(cust, sup("k") <=> cust("ck"))
      .groupBy(sup("k"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("s_suppkey")).as("n_sup"),
        countDistinct(col("c_custkey")).as("n_cust"))
      .orderBy(asc_nulls_first("k"))
  }

  /** interval self-join: pairs of events of the same user ≤ 30 min apart.
    *
    * The equi-key is (user_id, 30-minute epoch bucket), not user_id alone:
    * with only user_id (15 distinct values in the fixtures) SMJ buffers
    * each user's full event list and evaluates the band as a post-join
    * filter — O(events-per-user²) per key, and one hot user at 100× scale
    * owns an entire straggler task. Bucketing by tb = epoch div 1800
    * bounds candidates per join key by events-per-half-hour at ANY scale:
    * a partner ≤ 30 min ahead lives in bucket tb or tb+1 (integer-second
    * arithmetic, so the containment is exact), the earlier side fans out
    * to those two keys via explode, and the exact band predicate filters
    * inside each bounded bucket. The two fan-out keys are distinct, so no
    * pair can match twice — no distinct needed, same oracle. */
  val join_range: Q = (s, d) => {
    val e = events(s, d)
      .withColumn("tb", expr("unix_timestamp(ts) div 1800"))
    val e1 = e.select(col("user_id"), col("ts").as("ts1"),
        col("event_id").as("id1"),
        explode(array(col("tb"), col("tb") + 1)).as("tb1"))
    val e2 = e.select(col("user_id").as("u2"), col("ts").as("ts2"),
      col("event_id").as("id2"), col("tb").as("tb2"))
    e1.join(e2,
        col("user_id") === col("u2") &&
          col("tb1") === col("tb2") &&
          col("ts2") > col("ts1") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 30 MINUTES") &&
          col("id1") < col("id2"))
      .select(col("user_id"), col("id1"), col("id2"),
        (unix_timestamp(col("ts2")) - unix_timestamp(col("ts1")))
          .as("gap_sec"))
      .orderBy("id1", "id2")
  }

  /** as-of join: each purchase matched to the latest click of the same user
    * at-or-before it (left: purchases with no prior click keep NULLs).
    * Join on user + range, then keep rank-1 per purchase — the classic
    * shuffle-friendly as-of formulation (no point lookup per row). */
  val join_asof: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = events(s, d)
    val purch = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val w = Window.partitionBy("p_id")
      .orderBy(col("c_ts").desc, col("c_id").desc)
    purch
      .join(clicks, col("user_id") === col("cu") && col("c_ts") <= col("p_ts"),
        "left")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
          .as("gap_sec"))
      .orderBy("p_id")
  }

  /** Nearest-event join — the BIDIRECTIONAL twin of [[join_asof]]: each
    * purchase pairs with the temporally CLOSEST click of the same user
    * in either direction (asof looks only backward). Distance is exact
    * µs integers; the pick is total-ordered by (distance, c_ts, c_id) —
    * equidistant before/after resolves to the earlier click, and
    * same-timestamp clicks to the smallest id.
    *
    * LINEAR merged-stream plan (r9 verdict #1 — the r9 form joined
    * purchases to ALL same-user clicks and window-filtered to rn=1,
    * a |P_u|×|C_u| per-user fan-out that dies at 100×): union the two
    * event kinds into ONE stream ordered by (ts, event_id) per user,
    * carry the nearest click BEFORE each row via a running `max` over
    * `struct(t, -id)` (largest t, then smallest id — the win_interp
    * LOCF frame) and the nearest click AFTER via the inverted-frame
    * `min` over `struct(t, id)`, then pick the nearer side with one
    * lexicographic `least` over (dist, c_ts, c_id) candidate structs.
    * One user-keyed shuffle, two frames in a single WindowExec,
    * constant per-row state, NO join node (plan-asserted in
    * PlanShapeSpec) — cost is linear in events regardless of per-user
    * activity. [[nearestJoinForm]] keeps the r9 join shape as the
    * oracle anchor; OperatorSpec proves the two arms row-identical at
    * both fixture SFs. */
  val join_nearest: Q = (s, d) => nearestLinear(events(s, d))

  /** kernel of [[join_nearest]] over any (user_id, ts, event_id,
    * event_type) relation. Why the struct encodings are exact: within
    * one user, every click at-or-before a purchase in (ts, id) order
    * has dist = p_t − c_t, which is minimized by the LARGEST c_t — and
    * among equal c_t the tie rule wants the SMALLEST id, so
    * max(struct(t, −id)) is precisely the best before-candidate;
    * dually min(struct(t, id)) is the best after-candidate. A click
    * sharing the purchase's timestamp lands on whichever side its
    * event_id sorts to, at dist 0 either way, and the final least()
    * over (dist, c_ts, c_id) recovers the global smallest-id winner. */
  private[graft] def nearestLinear(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy("user_id")
      .orderBy(asc("ts"), asc("event_id"))
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    e.where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("pt"),
        when(col("event_type") === "click",
          struct(unix_micros(col("ts")).as("t"),
            (-col("event_id")).as("negid"))).as("ckb"),
        when(col("event_type") === "click",
          struct(unix_micros(col("ts")).as("t"),
            col("event_id").as("id"))).as("cka"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("pt"),
        max(col("ckb")).over(wPrev).as("b"),
        min(col("cka")).over(wNext).as("a"))
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"),
        least(
          when(col("b").isNotNull, struct(
            (col("pt") - col("b.t")).as("dist_us"),
            col("b.t").as("c_t"), (-col("b.negid")).as("c_id"))),
          when(col("a").isNotNull, struct(
            (col("a.t") - col("pt")).as("dist_us"),
            col("a.t").as("c_t"), col("a.id").as("c_id"))))
          .as("pick"))
      .select(col("p_id"), col("user_id"), col("p_ts"),
        col("pick.c_id").as("c_id"), col("pick.dist_us").as("dist_us"))
      .orderBy("p_id")
  }

  /** The r9 per-user pairwise form — retained ONLY as the arm-equality
    * anchor for [[nearestLinear]] (OperatorSpec); its fan-out is
    * |purchases_u| × |clicks_u| per user, which the linear plan
    * replaces in production. */
  private[graft] def nearestJoinForm(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val purch = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val w = Window.partitionBy("p_id")
      .orderBy(col("dist_us").asc, col("c_ts").asc, col("c_id").asc)
    purch
      .join(clicks, col("user_id") === col("cu"), "left")
      .withColumn("dist_us",
        abs(unix_micros(col("p_ts")) - unix_micros(col("c_ts"))))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"),
        col("dist_us"))
      .orderBy("p_id")
  }

  /** star join: fact (lineitem⋈orders, shuffled on the fact keys) against
    * broadcast dims customer-is-large-but-joins-orders-first, then broadcast
    * nation/region — revenue per region/nation. */
  val join_star: Q = (s, d) =>
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_lines"),
        moneySum6(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy("r_name", "n_name")

  /** Salted equi-join — the manual skew weapon when one join key carries
    * a disproportionate share of the fact rows (AQE's skew-join split is
    * the automatic version; salting is what you reach for when the skew
    * is known and AQE's thresholds don't trigger, or on a static plan).
    * Fact rows fan out over SALT sub-keys via a DETERMINISTIC per-row
    * spreader that varies WITHIN the hot join key (l_linenumber — a salt
    * derived from the join key itself would keep each hot key in one
    * partition and salt nothing); the dim side replicates ×SALT with an
    * exploded sequence. The join condition adds `salt` to the equi-keys,
    * so the shuffle hash-partitions on (key, salt) and a hot orderkey
    * spreads across SALT partitions. Result provably equals the unsalted
    * join (same oracle; row-identity unit test). */
  val join_salted: Q = (s, d) => {
    val SALT = 8
    val fact = lineitem(s, d)
      .withColumn("salt", pmod(col("l_linenumber"), lit(SALT)))
    val dim = orders(s, d)
      .withColumn("salt", explode(sequence(lit(0), lit(SALT - 1))))
    // r17 (guide §3): Catalyst broadcast the ×SALT-replicated dim (its
    // pre-explode size estimate undershoots), which (a) built a 1.2M-row
    // hash relation serially on the driver — the query's dominant cost —
    // and (b) planned AWAY the salted shuffle the operator demonstrates.
    // The SHUFFLE_HASH hint restores the distributed (key, salt)
    // partitioning on both sides (the skew-spreading shape) without the
    // sort SMJ would add; inner equi-join — rows identical either way.
    fact.join(dim.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey") &&
          fact("salt") === dim("salt"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        moneySum6(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Bucketed co-located join as a first-class query — the repeated-join
    * strategy for 100 TB fact/dim pairs: both sides written bucketed on
    * the join key (8 buckets, sorted within buckets), so the join plans
    * as a zero-Exchange sort-merge join (the plan property is asserted in
    * PlanShapeSpec's bucketed test; HERE the oracle proves bucketing
    * changes the plan, never the answer — the same join/agg over the raw
    * source files must hash-match). Table names carry the applicationId +
    * sfDir so concurrent runs can't collide in the shared warehouse.
    * Persisted: rebuilding the tables on every invocation only
    * re-measured the WRITE in the bench's steady-state passes (1.6 s/run
    * at sf0.1, r8 plan audit) — exactly what a real warehouse never does
    * after ingest. */
  val join_bucketed: Q = (s, d) => {
    val cust = graft.util.AppCleanup.persisted(s, "graft_cust", d,
      "c_custkey")(customer(s, d))
    val ord = graft.util.AppCleanup.persisted(s, "graft_ord", d,
      "o_custkey")(orders(s, d))
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }
  // ----- D. aggregations ---------------------------------------------------

  /** ★ flagship — TPC-H Q1 shape: filter → partial/final hash agg on
    * (returnflag, linestatus) → 8 aggregates → sort. Map-side combine means
    * the shuffle carries ≤ |groups|×|partitions| rows at any scale. */
  val agg_pricing: Q = (s, d) =>
    lineitem(s, d)
      .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum6(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        moneySum6(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("sum_charge"),
        moneyAvg(col("l_quantity")).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        moneyAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** lineitem replicated 10×, persisted: the DATA-DOMINATED flagship
    * anchor (r15 verdict stretch #8) — at sf0.1 every other row's
    * runtime is mostly fixed cost, so a plan regression that scales with
    * DATA (a lost map-side combine, a broken pushdown) hides inside the
    * flat profile; this relation is big enough that [[agg_pricing_10x]]'s
    * runtime follows bytes scanned, the honest canary. Replication is a
    * cross join with `range(10)` — deterministic, and the oracle replays
    * the identical product. */
  private def lineitem10x(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.util.AppCleanup.persisted(s, "graft_li10x", d) {
      lineitem(s, d).crossJoin(s.range(10).select(col("id").as("rep")))
    }

  /** ★ the flagship aggregate over the 10× blow-up: same shape as
    * [[agg_pricing]] (filter → partial/final hash agg → sort), runtime
    * dominated by the scan+combine over real data volume. Counts and
    * sums scale exactly 10×, averages are invariant — the oracle
    * replays the same cross product. */
  val agg_pricing_10x: Q = (s, d) =>
    lineitem10x(s, d)
      .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum6(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        moneySum6(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("sum_charge"),
        moneyAvg(col("l_quantity")).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        moneyAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Compute-bound scaling canary (r17 verdict #2): every other query at
    * sf0.1 is Spark-job-floor-bound, so the driver's 8-vs-32-core run
    * produced ratios ≈ 1 and proved nothing about plan scalability.
    * This row is REGISTER-RESIDENT arithmetic: one whole-stage-codegen
    * span (Range → modular-hash chain → single-group partial agg) with
    * no join, no row materialization and no allocation, because on this
    * box anything that moves rows through memory caps at ~6 GB/s
    * regardless of core count (measured: the ×R cross-product form ran
    * at the SAME 118 M rows/s total on 8 and 32 cores), while pure ALU
    * scales with cores (measured 16.7× effective at 32 threads). Row
    * count derives from the data (lineitem count × CanaryReps via a
    * memoized probe), the range splits follow defaultParallelism —
    * nothing is tuned to a fixed core count.
    *
    * Oracle: the chain hashes `i % CanaryPeriod`, so its values are
    * PERIODIC and DuckDB verifies algebraically — one period sum
    * (CanaryPeriod rows) plus the partial-period remainder — instead of
    * replaying N rows (DuckDB's range() is single-threaded, ~13 M
    * rows/s: a replay would cost minutes). Exact integers end to end:
    * mod-a-prime-BEFORE-the-multiply keeps every intermediate < 2^52
    * (no ANSI overflow) and every operand non-negative (Spark % ≡
    * DuckDB % on non-negatives), and the full checksum is value-checked
    * bit-exactly.
    *
    * Earlier forms, measured and abandoned: lineitem × range cross
    * products (integer or DECIMAL payload) — the BNLJ row emission is
    * memory-bound, ratio stuck at 1.2-1.5. */
  private[graft] val CanaryReps = 4200L
  private[graft] val CanaryPeriod = 1000003L
  private def canaryChainSql(v: String): String =
    s"(((((((($v % $CanaryPeriod) * 2654435761 + 7) % $CanaryPeriod) " +
      s"* 2654435761 + 17) % $CanaryPeriod) " +
      s"* 2654435761 + 29) % $CanaryPeriod) " +
      s"* 2654435761 + 43) % $CanaryPeriod"

  val agg_scaling_canary: Q = (s, d) => {
    val n = graft.util.Probes.memo(s, d, "scaling_canary_rows") {
      lineitem(s, d).count()
    } * CanaryReps
    // the group key DERIVES FROM the chain: the bench times `.count()`,
    // and count over an aggregate lets Catalyst prune every aggregate
    // expression the count doesn't need — a groupless (or id-keyed)
    // variant measured as "1.2e9 rows in 0.165 s" because the chain was
    // never evaluated. Keying on h % 4 forces the full chain per row
    // (group cardinality is data-dependent) while the result stays a
    // 4-row total-ordered relation.
    s.range(n)
      .select(expr(canaryChainSql("id")).as("h"))
      .groupBy(expr("h % 4").as("bucket"))
      .agg(sum(col("h")).as("checksum"), count(lit(1)).as("n_rows"))
      .orderBy("bucket")
  }

  val agg_distinct: Q = (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** HLL sketch — engine-specific, no oracle (rows-only check); bounds are
    * unit-tested against the exact count instead. */
  val agg_approx: Q = (s, d) =>
    events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy("event_type")

  /** The HLL family's RE-AGGREGATION half — the pattern that actually
    * carries distinct counts at 100 TB: build DataSketches HLL sketches
    * once at the finest grain (here per (returnflag, linestatus); in
    * production persisted as a sketch TABLE at ingest), then answer any
    * coarser rollup by merging sketch BYTES — `hll_union_agg` — instead
    * of rescanning rows. One row-scan builds all sketches; the rollup
    * aggregates 6 binary values. `approx_count_distinct` (agg_approx)
    * cannot do this: its HLL++ buffer is not exposed for re-use. Sketch
    * bytes are engine-specific → rows-only check; OperatorSpec bounds
    * every estimate against exact countDistinct AND asserts
    * union-consistency (merged fine sketches track a directly-built
    * coarse sketch within 2% — not bit-equal: a DataSketches union drops
    * the insertion-order HIP estimator for the register-only composite
    * one, which is exactly what makes the merge order-independent). */
  val agg_hll_merge: Q = (s, d) => {
    val sketches = lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(hll_sketch_agg(col("l_orderkey"), lit(12)).as("sk"))
    sketches
      .groupBy("l_returnflag")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true)))
        .as("approx_orders"),
        count(lit(1)).cast("int").as("n_sketches"))
      .orderBy("l_returnflag")
  }

  /** The quantile family's RE-AGGREGATION half (r11 directive #5) — the
    * missing mergeable row next to distinct counts (agg_hll_merge), set
    * algebra (agg_theta_intersect) and point frequency (agg_cms): build
    * DataSketches KLL quantile sketches ONCE at the fine grain (per
    * (returnflag, linestatus); in production persisted at ingest), then
    * answer the coarser per-returnflag p50/p90 by merging sketch BYTES
    * (`kll_merge_agg_double`, Spark 4.1's KLL surface) instead of
    * rescanning rows. `approx_percentile` (agg_approx_pctile, GK)
    * cannot do this — its buffer is not exposed for re-use — which is
    * why a 100 TB pipeline serves quantile rollups from persisted KLL
    * tables. k=400 → rank error ≈ 0.9 %. KLL compaction is RANDOMIZED
    * (unseeded, by design), so values vary run to run inside the rank
    * bound: rows-only check (the pre-declared sketch-family posture,
    * with the variance documented here rather than hidden); the
    * OperatorSpec bound is the principled one — each estimate must lie
    * between the EXACT quantiles at rank p ± 3 % — not a value-relative
    * tolerance that would conflate rank error with price spread. */
  val agg_kll_merge: Q = (s, d) => {
    val sketches = lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(expr("kll_sketch_agg_double(l_extendedprice, 400)").as("sk"))
    sketches
      .groupBy("l_returnflag")
      .agg(expr("kll_merge_agg_double(sk, 400)").as("msk"),
        count(lit(1)).cast("int").as("n_sketches"))
      .select(col("l_returnflag"),
        expr("kll_sketch_get_quantile_double(msk, 0.5)").as("p50_apx"),
        expr("kll_sketch_get_quantile_double(msk, 0.9)").as("p90_apx"),
        col("n_sketches"))
      .orderBy("l_returnflag")
  }

  /** The mergeable-sketch family's INTERSECTION direction (r9 verdict
    * #6) — the one set-algebra question HLL unions cannot answer: how
    * many distinct keys sit in BOTH of two populations. DataSketches
    * THETA sketches (the Spark 4.1 `theta_*` surface over
    * datasketches-java) carry full set algebra: per order priority,
    * sketch the custkeys active in 1996 and in 1997 ONCE at the fine
    * grain, then answer returning (∩), active-either (∪) and churned
    * (\) customers by sketch algebra over the compact sketch bytes —
    * at 100 TB the sketches persist at ingest and every retention
    * rollup is a bytes-merge, never a customer-set rescan or exact
    * pairwise join. lgK=12 → ~1.6 % relative standard error on the
    * union; OperatorSpec bounds all three estimates against the exact
    * set sizes at both fixture SFs. Sketch bytes are engine-specific →
    * rows-only check (the pre-declared sketch-family posture). */
  val agg_theta_intersect: Q = (s, d) => {
    val sk = orders(s, d)
      .withColumn("yr", year(col("o_orderdate")))
      .where(col("yr").isin(1996, 1997))
      .groupBy(col("o_orderpriority"), col("yr"))
      .agg(theta_sketch_agg(col("o_custkey"), 12).as("sk"))
    val a = sk.where(col("yr") === 1996)
      .select(col("o_orderpriority"), col("sk").as("sk_a"))
    val b = sk.where(col("yr") === 1997)
      .select(col("o_orderpriority"), col("sk").as("sk_b"))
    a.join(b, Seq("o_orderpriority"))
      .select(col("o_orderpriority"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .cast("long").as("approx_returning"),
        theta_sketch_estimate(theta_union(col("sk_a"), col("sk_b"), lit(12)))
          .cast("long").as("approx_either"),
        theta_sketch_estimate(theta_difference(col("sk_a"), col("sk_b")))
          .cast("long").as("approx_churned"))
      .orderBy("o_orderpriority")
  }

  /** The second sketch family next to HLL: error-bounded percentile
    * estimation (Greenwald-Khanna, accuracy 1000 → ≤ 0.1% rank error) —
    * the way a 100 TB pipeline gets quantiles without a global sort.
    * Deterministic for fixed input but engine-specific → rows-only check;
    * the unit test bounds it against the exact percentiles. */
  val agg_approx_pctile: Q = (s, d) =>
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(expr(
        "approx_percentile(o_totalprice, array(0.5, 0.9), 1000)").as("apx"))
      .select(col("o_orderstatus"),
        element_at(col("apx"), 1).as("p50_apx"),
        element_at(col("apx"), 2).as("p90_apx"))
      .orderBy("o_orderstatus")

  /** The third sketch family: count–min point-frequency estimation — how
    * a 100 TB stream answers "how often did key k occur" without a
    * per-key exact aggregate. Spark's `count_min_sketch` aggregate builds
    * the binary sketch distributed (mergeable buffers → map-side
    * combine); the driver deserializes it ONCE (a single bounded row, the
    * IVF-constants pattern) and probes a fixed key set. Seeded →
    * deterministic for fixed input, but the sketch layout is
    * engine-specific → rows-only check; the CMS one-sided guarantee
    * (exact ≤ estimate ≤ exact + ε·N at the configured confidence) is
    * unit-tested per key. The exact counts ride along in the output so
    * the overcount is visible in the result itself. */
  val agg_cms: Q = (s, d) => {
    import s.implicits._
    val bytes = events(s, d)
      .agg(expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("sk"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val keys = (0L until 20L).map(k => k -> cms.estimateCount(Long.box(k)))
      .toDF("user_id", "est_count")
    events(s, d)
      .where(col("user_id") < 20)
      .groupBy("user_id")
      .agg(count(lit(1)).as("exact_count"))
      .join(keys, Seq("user_id"), "right")
      .select(col("user_id"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        col("est_count"))
      .orderBy("user_id")
  }

  private def custNation: Q = (s, d) =>
    customer(s, d).join(broadcast(nation(s, d)),
      col("c_nationkey") === col("n_nationkey"))

  /** ROLLUP/CUBE via SQL: the Dataset rollup().agg(grouping(...)) path trips
    * Spark 4's ambiguous-self-join detector on the join-derived grouping
    * columns; the SQL form resolves cleanly and plans identically (Expand +
    * two-phase hash agg). */
  private def groupingQuery(s: org.apache.spark.sql.SparkSession, d: String,
      groupBy: String): org.apache.spark.sql.DataFrame = {
    custNation(s, d).createOrReplaceTempView("graft_gsets_cn")
    s.sql(s"""
      SELECT cast(grouping(n_name) AS int)      AS g_nation,
             cast(grouping(c_mktsegment) AS int) AS g_seg,
             coalesce(n_name, 'ALL')            AS nation,
             coalesce(c_mktsegment, 'ALL')      AS segment,
             count(1)                           AS n,
             cast(sum(cast(c_acctbal AS decimal(18,2))) AS double) AS acct
      FROM graft_gsets_cn
      GROUP BY $groupBy
      ORDER BY g_nation, g_seg, nation, segment
    """)
  }

  val agg_rollup: Q = (s, d) => groupingQuery(s, d, "ROLLUP (n_name, c_mktsegment)")

  val agg_cube: Q = (s, d) => groupingQuery(s, d, "CUBE (n_name, c_mktsegment)")

  val agg_gsets: Q = (s, d) =>
    groupingQuery(s, d, "GROUPING SETS ((n_name), (c_mktsegment), ())")

  val agg_filter: Q = (s, d) =>
    events(s, d)
      .groupBy("user_id")
      .agg(
        count_if(col("event_type") === "purchase").as("n_purchase"),
        count_if(col("event_type") === "click").as("n_click"),
        coalesce(
          sum(when(col("event_type") === "purchase", dec2(col("value")))),
          lit(0).cast("decimal(18,2)")).cast("double").as("purchase_value"))
      .orderBy("user_id")

  /** Per-group list aggregate. Scale contract: collect_set/collect_list
    * buffers are unbounded in GROUP SIZE — that is the operator's
    * semantics, so per-key cardinality bounds are the CALLER's contract
    * at 100 TB (here the domain is the closed event-type set, ≤ 5
    * elements per group by construction; an open-domain collect needs a
    * slice/top-k cap first). */
  val agg_collect: Q = (s, d) =>
    events(s, d)
      .groupBy("user_id")
      .agg(
        concat_ws(",", array_sort(collect_set(col("event_type"))))
          .as("types_seen"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  val agg_stats: Q = (s, d) =>
    events(s, d)
      .withColumn("hr", hour(col("ts")).cast("double"))
      .groupBy("event_type")
      .agg(
        r4(stddev_samp(col("value"))).as("sd_value"),
        r4(var_samp(col("value"))).as("var_value"),
        r4(corr(col("value"), col("hr"))).as("corr_value_hour"),
        r4(covar_samp(col("value"), col("hr"))).as("covar_value_hour"))
      .orderBy("event_type")

  /** Shannon entropy of each user's event-type mix — the behavioral-
    * diversity profile (bits of surprise in what a user does). Terms are
    * `-(n/total)·ln(n/total)` over EXACT integer counts (per-type count
    * + per-user window total), so both engines feed identical operands
    * to an identical expression tree; the result is the usual r4
    * statistical double (ln is libm-dependent — the agg_stats class,
    * not the bit-exact class). Two-phase: the heavy agg shrinks events
    * to (user, type) rows, the window runs over that tiny relation. */
  val agg_entropy: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val p = col("n").cast("double") / col("total").cast("double")
    events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total",
        sum(col("n")).over(Window.partitionBy("user_id")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_types"),
        sum(col("n")).as("n_events"),
        r4(-sum(p * log(p))).as("entropy4"))
      .orderBy("user_id")
  }

  /** Gini coefficient of order-value concentration per order priority —
    * the inequality profile, in EXACT INTEGER BASIS POINTS: over exact
    * DECIMAL-derived cents x sorted by the unique (cents, orderkey)
    * order with ranks i, `G_bp = (2·Σi·x − (n+1)·Σx) · 10000 div
    * (n·Σx)`. The numerator is non-negative (Chebyshev's sum
    * inequality on ascending ranks), so Spark's trunc-div and DuckDB's
    * floor-div agree; the ×10000 product can reach ~1e20, so it runs in
    * DECIMAL(38,0) against DuckDB's HUGEINT — both exact. The BIGINT
    * moments S1 = Σi·x hold to ~4·10^5 rows per group at these
    * magnitudes; beyond that, accumulate S1 itself in DECIMAL(38,0)
    * (the pagerank-style documented headroom bound). Shape: one window
    * rank + one agg, both on the same group-keyed shuffle. */
  val agg_gini: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(asc("cents"), asc("o_orderkey"))
    orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("s0"),
        sum(col("i") * col("cents")).as("s1"))
      .select(col("o_orderpriority"), col("n"), col("s0").as("sum_cents"),
        expr("""(cast(2 as decimal(38,0)) * s1 - (n + 1) * s0) * 10000
                div (cast(n as decimal(38,0)) * s0)""").as("gini_bp"))
      .orderBy("o_orderpriority")
  }

  val agg_pctile: Q = (s, d) =>
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(percentile(col("o_totalprice"),
        array(lit(0.5), lit(0.9))).as("pcts"))
      .select(
        col("o_orderstatus"),
        r4(element_at(col("pcts"), 1)).as("p50"),
        r4(element_at(col("pcts"), 2)).as("p90"))
      .orderBy("o_orderstatus")

  /** max_by/min_by with a (value, event_id) struct ordering key — unique, so
    * deterministic even though `value` alone has duplicates (verified). */
  /** deterministic MODE per group: most frequent order priority per
    * status. Spark has no mode() aggregate with a pinned tie rule (and
    * DuckDB's mode() ties are engine-arbitrary), so both engines compute
    * the same count + row_number formulation — highest count, then
    * lexicographically smallest value — which is total-ordered by
    * construction. Two-phase agg then a window over the tiny (status,
    * priority) count table: the window input is ~groups, not rows. */
  val agg_mode: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(desc("n"), asc("mode_priority"))
    orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_orderstatus"), col("mode_priority"), col("n"))
      .orderBy("o_orderstatus")
  }

  /** fixed-width histogram of order value per status: 100k-wide buckets,
    * top bucket open-ended. The bucket index goes through exact DECIMAL
    * cents then integer division — a float `floor(price / 100000)`
    * looks equivalent but is the half-boundary engine-divergence trap
    * (CLAUDE.md); two-phase count, shuffle bounded by statuses ×
    * buckets. */
  val agg_hist: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderstatus"),
        expr("""least(5, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT) div 10000000)""")
          .cast("int").as("bucket"))
      .groupBy("o_orderstatus", "bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus", "bucket")

  val agg_minmax_by: Q = (s, d) =>
    events(s, d)
      .groupBy("user_id")
      .agg(
        max_by(col("event_type"), struct(col("value"), col("event_id")))
          .as("top_event"),
        min_by(col("event_type"), struct(col("value"), col("event_id")))
          .as("bottom_event"),
        r4(max(col("value"))).as("max_value"))
      .orderBy("user_id")

  /** correlated scalar subquery (SQL form → Catalyst decorrelates to an
    * aggregate + join): orders beating their customer's average. */
  val sub_scalar: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("graft_sub_orders")
    s.sql("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM graft_sub_orders o
      WHERE o_totalprice > 1.5 * (
        SELECT cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) / count(1)
        FROM graft_sub_orders i
        WHERE i.o_custkey = o.o_custkey)
      ORDER BY o_orderkey
    """)
  }

  /** IN + NOT EXISTS subqueries (SQL form → RewritePredicateSubquery turns
    * them into semi/anti joins — the rewrite the DSL joins bypass). */
  val sub_in: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("graft_sub_cust")
    orders(s, d).createOrReplaceTempView("graft_sub_orders2")
    s.sql("""
      SELECT c_custkey, c_mktsegment
      FROM graft_sub_cust
      WHERE c_nationkey IN (SELECT c_nationkey FROM graft_sub_cust
                            GROUP BY c_nationkey HAVING count(1) >= 5)
        AND NOT EXISTS (SELECT 1 FROM graft_sub_orders2
                        WHERE o_custkey = c_custkey
                          AND o_orderstatus = 'P')
      ORDER BY c_custkey
    """)
  }

  /** NOT IN under three-valued logic — the classic SQL trap, proven
    * cross-engine: `x NOT IN (subquery)` is FALSE-or-UNKNOWN (never TRUE)
    * for EVERY x when the subquery yields any NULL, so a WHERE it guards
    * keeps ZERO rows. Per row: the null-free NOT IN projected as a
    * boolean; corpus-wide: the survivor count under the SAME set with
    * NULLs mixed in — zero, the trap — via an uncorrelated scalar
    * subquery. The poisoned branch deliberately sits in WHERE context:
    * there UNKNOWN excludes the row identically on both engines, whereas
    * a PROJECTED null-poisoned NOT IN diverges (measured at sf0.001:
    * Spark's ExistenceJoin collapses UNKNOWN to false, DuckDB keeps
    * NULL). Catalyst plans NOT IN as a null-aware anti join — still an
    * equi-shaped join, not per-row subquery re-execution. */
  val sub_notin_null: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("graft_sub_cust3")
    s.sql("""
      SELECT c_custkey, c_nationkey,
             c_nationkey NOT IN (SELECT c_nationkey FROM graft_sub_cust3
                                 WHERE c_mktsegment = 'BUILDING') AS notin_clean,
             (SELECT count(1) FROM graft_sub_cust3 c2
              WHERE c2.c_nationkey NOT IN
                  (SELECT CASE WHEN c_mktsegment = 'BUILDING'
                               THEN c_nationkey END
                   FROM graft_sub_cust3)) AS n_poisoned_survivors
      FROM graft_sub_cust3
      ORDER BY c_custkey
    """)
  }

  /** pivot: long→wide per-user event counts over the (verified) closed
    * event-type domain; values pinned explicitly so the output schema is
    * static — the scalable form (dynamic pivot needs a distinct-scan first). */
  val agg_pivot: Q = (s, d) =>
    events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** unpivot (melt): the wide pivot back to long — includes the zero cells
    * the long form never materialized, which is the semantic difference
    * the oracle encodes with a domain cross join. */
  val agg_unpivot: Q = (s, d) =>
    agg_pivot(s, d)
      .unpivot(Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase"), col("signup"),
          col("view")),
        "event_type", "n")
      .orderBy("user_id", "event_type")

  // ----- F. sorts / top-k --------------------------------------------------

  val sort_multi: Q = (s, d) =>
    customer(s, d)
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      .orderBy(
        asc_nulls_last("c_mktsegment"),
        desc("c_acctbal"),
        asc("c_custkey"))

  /** orderBy+limit → TakeOrderedAndProject (per-partition top-k, no global
    * sort — the O(n log k) plan that survives 100 TB). */
  val sort_topk: Q = (s, d) =>
    orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(50)

  // ----- G. set operations -------------------------------------------------

  val setop_union: Q = (s, d) =>
    customer(s, d).select(col("c_nationkey").as("nk"))
      .unionByName(supplier(s, d).select(col("s_nationkey").as("nk")))
      .groupBy("nk")
      .agg(count(lit(1)).as("n"))
      .orderBy("nk")

  val setop_intersect: Q = (s, d) =>
    customer(s, d).select(col("c_nationkey").as("nk"))
      .intersect(supplier(s, d).select(col("s_nationkey").as("nk")))
      .orderBy("nk")

  val setop_except: Q = (s, d) =>
    customer(s, d).select(col("c_nationkey").as("nk"))
      .exceptAll(supplier(s, d).select(col("s_nationkey").as("nk")))
      .groupBy("nk")
      .agg(count(lit(1)).as("n"))
      .orderBy("nk")

  /** multiset INTERSECT ALL (per-key multiplicity = min of the two
    * sides, which Spark plans as a count-compare aggregate — a
    * different operator from the distinct-izing intersect); rolled up
    * per key so the oracle hashes counts, not row multiplicity
    * ordering. */
  val setop_intersect_all: Q = (s, d) =>
    customer(s, d).select(col("c_nationkey").as("nk"))
      .intersectAll(supplier(s, d).select(col("s_nationkey").as("nk")))
      .groupBy("nk")
      .agg(count(lit(1)).as("n"))
      .orderBy("nk")

  /** LATERAL correlated subquery join (SQL form): each nation's top-2
    * customers by (acctbal desc, custkey asc — unique tiebreak).
    * Exercises Catalyst's lateral-join decorrelation
    * (DecorrelateInnerQuery), the planner path the DSL window top-k
    * (win_topk) bypasses; the decorrelated plan is a ranked join, so
    * per-nation state stays bounded at any scale. */
  val join_lateral: Q = (s, d) => {
    nation(s, d).createOrReplaceTempView("graft_lat_nation")
    customer(s, d).createOrReplaceTempView("graft_lat_customer")
    s.sql("""
      SELECT n.n_name, t.c_custkey, t.c_acctbal
      FROM graft_lat_nation n,
      LATERAL (
        SELECT c_custkey, c_acctbal
        FROM graft_lat_customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey ASC
        LIMIT 2
      ) t
      ORDER BY n.n_name, t.c_custkey
    """)
  }

  /** Cohort retention matrix (r8): users bucketed by first-seen
    * calendar day, then distinct active users per (cohort_day,
    * day_offset) — the product-analytics staple at the granularity that
    * yields a dense oracle matrix on the fixture (daily: 59 checked
    * cells at sf0.01 vs 5 weekly). All counts exact; the offset is an
    * exact integer division of µs epochs (UTC day truncs differ by
    * exact multiples of 86400e6 µs, no DST). Scale: two user-keyed
    * shuffles (first-seen agg, distinct activity) + one on the small
    * (cohort, offset) key — no window over an unbounded partition, no
    * driver state. */
  val dt_cohort: Q = (s, d) => {
    val ev = events(s, d)
    val firstSeen = ev.groupBy("user_id")
      .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
    val active = ev.select(col("user_id"),
      date_trunc("day", col("ts")).as("active_day")).distinct()
    active.join(firstSeen, "user_id")
      .withColumn("day_offset", expr(
        "CAST((unix_micros(active_day) - unix_micros(cohort_day)) " +
          "div 86400000000 AS INT)"))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Recursive hierarchy closure — the `WITH RECURSIVE` capability class
    * (org charts, BOM explosions, folder trees) as a semi-naive
    * iterative join. The hierarchy is derived relationally so the
    * oracle can replay it: customer c reports to customer `c div 10`
    * (every parent key exists — keys are dense from 1), roots are keys
    * < 10. Each customer walks to its ROOT ancestor, emitting (key,
    * root, depth).
    *
    * Loop shape: a [[graft.util.Iterate.fixpoint]] loop over the cached
    * edge relation; each round joins the still-walking frontier to it —
    * one keyed shuffle, or a broadcast when the edge side fits. The
    * frontier only SHRINKS (rows retire as they reach a root), so
    * rounds = O(hierarchy depth) with monotonically falling cost — the
    * same convergence-counted loop as connected components. Its bound,
    * 19 rounds, is one past the longest walk any Long key can take (a
    * 19-digit key reaches a root in 18 `div 10` steps), so no valid
    * input can trip it. The oracle is DuckDB's native WITH RECURSIVE
    * over the same edge relation. */
  val rel_recursive: Q = (s, d) =>
    relRecursiveOf(s, d, Llm.CcDriverBudgetEdges)

  /** budget-dispatched like the graph family: under the shared edge
    * budget the walk runs as a driver loop over the collected parent
    * map (each distributed round costs a join + checkpoint + two
    * counts of per-job overhead on a hierarchy of at most a few
    * thousand rows); above it, the shrinking-frontier loop. Identical
    * traversal → value-equal, arm-equality-tested (OperatorSpec). */
  private[graft] def relRecursiveOf(s: org.apache.spark.sql.SparkSession,
      d: String,
      driverBudgetEdges: Long): org.apache.spark.sql.DataFrame = {
    val sp = s
    import sp.implicits._
    // the edge relation is DERIVED from the key column (parent = child
    // div 10), so the budget covers the key relation itself (edges ≤
    // keys): the driver arm is ONE bounded job and the parent map is
    // rebuilt driver-side from the collected keys (keys positive where
    // they walk, so `/` ≡ `div`).
    graft.util.Probes.byBudget(
        customer(s, d).select(col("c_custkey")).as[Long],
        driverBudgetEdges, "rel_recursive|" + d) { keys =>
      val parent = keys.iterator.filter(_ >= 10).map(k => k -> k / 10).toMap
      val out = keys.sorted.map { key =>
        var node = key; var depth = 0
        while (node >= 10) { node = parent(node); depth += 1 }
        (key, node, depth)
      }
      s.createDataset(out.toSeq).toDF("key", "root", "depth")
        .orderBy("key")
    } { keys =>
      val edges = keys.where(col("c_custkey") >= 10)
        .select(col("c_custkey").as("child"),
          expr("c_custkey div 10").as("parent"))
      val base = keys.select(col("c_custkey").as("key"),
        col("c_custkey").as("node"), lit(0).as("depth"))
      graft.util.Iterate.fixpoint("rel_recursive", base, 19,
          "rel_recursive exceeded 19 rounds — every Long key reaches a " +
            "root within 18 div-10 steps, so the parent derivation no " +
            "longer matches the oracle's recursive CTE") { (cur, _) =>
        cur.where(col("node") < 10).unionAll(cur.where(col("node") >= 10)
          .join(edges, col("node") === col("child"))
          .select(col("key"), col("parent").as("node"),
            (col("depth") + 1).as("depth")))
      } { (_, cur, _) => cur.where(col("node") >= 10).count() == 0 }
        ._1.select(col("key"), col("node").as("root"), col("depth"))
        .orderBy("key")
    }
  }

  val queries: Seq[(String, Q)] = Seq(
    "scan_parquet" -> scan_parquet,
    "rel_recursive" -> rel_recursive,
    "dt_cohort" -> dt_cohort,
    "scan_pruned" -> scan_pruned,
    "scan_events_ns" -> scan_events_ns,
    "proj_compute" -> proj_compute,
    "filt_conj" -> filt_conj,
    "filt_case" -> filt_case,
    "filt_between" -> filt_between,
    "join_bhj" -> join_bhj,
    "join_smj" -> join_smj,
    "join_left" -> join_left,
    "join_full" -> join_full,
    "join_semi" -> join_semi,
    "join_anti" -> join_anti,
    "join_theta" -> join_theta,
    "join_nullsafe" -> join_nullsafe,
    "join_range" -> join_range,
    "join_asof" -> join_asof,
    "join_nearest" -> join_nearest,
    "join_star" -> join_star,
    "join_salted" -> join_salted,
    "join_bucketed" -> join_bucketed,
    "agg_pricing" -> agg_pricing,
    "agg_pricing_10x" -> agg_pricing_10x,
    "agg_scaling_canary" -> agg_scaling_canary,
    "agg_distinct" -> agg_distinct,
    "agg_approx" -> agg_approx,
    "agg_hll_merge" -> agg_hll_merge,
    "agg_kll_merge" -> agg_kll_merge,
    "agg_theta_intersect" -> agg_theta_intersect,
    "agg_approx_pctile" -> agg_approx_pctile,
    "agg_cms" -> agg_cms,
    "agg_rollup" -> agg_rollup,
    "agg_cube" -> agg_cube,
    "agg_gsets" -> agg_gsets,
    "agg_filter" -> agg_filter,
    "agg_collect" -> agg_collect,
    "agg_stats" -> agg_stats,
    "agg_pctile" -> agg_pctile,
    "agg_minmax_by" -> agg_minmax_by,
    "agg_entropy" -> agg_entropy,
    "agg_gini" -> agg_gini,
    "agg_mode" -> agg_mode,
    "agg_hist" -> agg_hist,
    "agg_pivot" -> agg_pivot,
    "agg_unpivot" -> agg_unpivot,
    "sub_scalar" -> sub_scalar,
    "sub_in" -> sub_in,
    "sub_notin_null" -> sub_notin_null,
    "sort_multi" -> sort_multi,
    "sort_topk" -> sort_topk,
    "setop_union" -> setop_union,
    "setop_intersect" -> setop_intersect,
    "setop_except" -> setop_except,
    "setop_intersect_all" -> setop_intersect_all,
    "join_lateral" -> join_lateral,
  )

  /** DuckDB 1.0 dialect oracle SQL. Aliases match the Spark output columns
    * exactly (driver hashes after sorting columns by name). */
  val oracle: Seq[(String, String)] = Seq(
    "rel_recursive" ->
      """WITH RECURSIVE
           edges AS (
             SELECT c_custkey AS child, c_custkey // 10 AS parent
             FROM customer WHERE c_custkey >= 10),
           up AS (
             SELECT c_custkey AS key, c_custkey AS node, 0 AS depth
             FROM customer
             UNION ALL
             SELECT u.key, e.parent, u.depth + 1
             FROM up u JOIN edges e ON e.child = u.node)
         SELECT key, node AS root, CAST(depth AS INT) AS depth
         FROM up WHERE node < 10 ORDER BY key""",
    "dt_cohort" ->
      """WITH fs AS (
           SELECT user_id,
               CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
           FROM events GROUP BY user_id),
         aw AS (
           SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS active_day
           FROM events)
         SELECT f.cohort_day,
             CAST((epoch_us(a.active_day) - epoch_us(f.cohort_day))
                  // 86400000000 AS INT) AS day_offset,
             count(DISTINCT a.user_id) AS n_users
         FROM aw a JOIN fs f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "scan_parquet" ->
      """SELECT * FROM lineitem WHERE l_orderkey % 100 = 7
         ORDER BY l_orderkey, l_linenumber""",
    "scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         ORDER BY l_orderkey, l_linenumber""",
    "scan_events_ns" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM events ORDER BY event_id""",
    "proj_compute" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty,
             CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)) AS DOUBLE) AS disc_price,
             CAST(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6)) AS DOUBLE) AS charge
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "filt_conj" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders
         WHERE o_orderpriority LIKE '%URGENT' AND o_orderstatus IN ('F','O')
           AND o_totalprice > 150000 AND o_custkey IS NOT NULL
         ORDER BY o_orderkey""",
    "filt_case" ->
      """SELECT CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%' THEN 'high'
                     WHEN o_orderpriority LIKE '3-%' THEN 'mid' ELSE 'low' END AS prio_class,
             count(1) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1 ORDER BY prio_class""",
    "filt_between" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1998-01-01' AND TIMESTAMP '1998-03-31'
         ORDER BY l_orderkey, l_linenumber""",
    "join_bhj" ->
      """SELECT p_brand, count(1) AS n_items,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",
    "join_smj" ->
      """SELECT o_orderpriority, count(1) AS n_lines,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "join_left" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
             coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey""",
    "join_full" ->
      """SELECT coalesce(c.nk_c, s.nk_s) AS nk, c.n_cust, s.n_supp
         FROM (SELECT c_nationkey AS nk_c, count(1) AS n_cust FROM customer GROUP BY 1) c
         FULL JOIN (SELECT s_nationkey AS nk_s, count(1) AS n_supp FROM supplier GROUP BY 1) s
           ON c.nk_c = s.nk_s
         ORDER BY nk""",
    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE NOT EXISTS (SELECT 1 FROM lineitem
                           WHERE l_partkey = p_partkey AND l_quantity >= 48)
         ORDER BY p_partkey""",
    "join_theta" ->
      """SELECT s_suppkey, c_custkey, s_nationkey
         FROM supplier JOIN customer
           ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
         ORDER BY s_suppkey, c_custkey""",
    "join_nullsafe" ->
      """SELECT s.k, count(1) AS n_pairs,
             count(DISTINCT s.s_suppkey) AS n_sup,
             count(DISTINCT c.c_custkey) AS n_cust
         FROM (SELECT CASE WHEN s_nationkey % 7 = 0 THEN NULL
                           ELSE CAST(s_nationkey % 7 AS INT) END AS k,
                      s_suppkey FROM supplier) s
         JOIN (SELECT CASE WHEN c_nationkey % 7 = 0 THEN NULL
                           ELSE CAST(c_nationkey % 7 AS INT) END AS k,
                      c_custkey FROM customer) c
           ON s.k IS NOT DISTINCT FROM c.k
         GROUP BY s.k ORDER BY s.k NULLS FIRST""",
    "join_range" ->
      """SELECT e1.user_id, e1.event_id AS id1, e2.event_id AS id2,
             date_diff('second', e1.ts, e2.ts) AS gap_sec
         FROM events e1 JOIN events e2
           ON e1.user_id = e2.user_id
          AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 30 MINUTE
          AND e1.event_id < e2.event_id
         ORDER BY id1, id2""",
    "join_asof" ->
      """WITH purch AS (SELECT user_id, ts AS p_ts, event_id AS p_id
                        FROM events WHERE event_type = 'purchase'),
              clicks AS (SELECT user_id AS cu, ts AS c_ts, event_id AS c_id
                         FROM events WHERE event_type = 'click'),
              j AS (SELECT p_id, user_id, p_ts, c_id, c_ts,
                        row_number() OVER (PARTITION BY p_id
                                           ORDER BY c_ts DESC, c_id DESC) AS rn
                    FROM purch LEFT JOIN clicks
                      ON user_id = cu AND c_ts <= p_ts)
         SELECT p_id, user_id, p_ts, c_id,
             date_diff('second', c_ts, p_ts) AS gap_sec
         FROM j WHERE rn = 1 ORDER BY p_id""",
    // bidirectional nearest: exact µs distance, (dist, c_ts, c_id)
    // total order; null candidates only exist alone (no-click users),
    // so NULLS FIRST/LAST defaults never get to disagree
    "join_nearest" ->
      """WITH purch AS (SELECT user_id, ts AS p_ts, event_id AS p_id
                        FROM events WHERE event_type = 'purchase'),
              clicks AS (SELECT user_id AS cu, ts AS c_ts, event_id AS c_id
                         FROM events WHERE event_type = 'click'),
              j AS (SELECT p_id, user_id, p_ts, c_id,
                        abs(epoch_us(p_ts) - epoch_us(c_ts)) AS dist_us,
                        row_number() OVER (PARTITION BY p_id
                            ORDER BY abs(epoch_us(p_ts) - epoch_us(c_ts)),
                                     c_ts, c_id) AS rn
                    FROM purch LEFT JOIN clicks ON user_id = cu)
         SELECT p_id, user_id, p_ts, c_id, dist_us
         FROM j WHERE rn = 1 ORDER BY p_id""",
    "join_star" ->
      """SELECT r_name, n_name, count(1) AS n_lines,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    // salting is a physical-plan change only (fact fan-out + dim
    // replication cancel): the oracle is the plain unsalted join
    "join_salted" ->
      """SELECT o_orderstatus, count(1) AS n_lines,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // the bucketed tables are a physical-layout change only: the oracle is
    // the identical join/agg over the raw source files
    "join_bucketed" ->
      """SELECT c_mktsegment, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS DOUBLE) AS avg_qty,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS DOUBLE) AS avg_price,
             CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS DOUBLE) AS avg_disc,
             count(1) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    // the identical cross product replays in DuckDB: sums/counts 10×,
    // averages invariant — the anchor's values are fully determined
    "agg_pricing_10x" ->
      """SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS DOUBLE) AS avg_qty,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS DOUBLE) AS avg_price,
             CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS DOUBLE) AS avg_disc,
             count(1) AS count_order
         FROM (SELECT l.* FROM lineitem l CROSS JOIN range(10))
         WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    // the oracle verifies ALGEBRAICALLY: the chain is periodic in
    // CanaryPeriod, so sum over range(N) = (N div P) * (one period's
    // sum) + (the first N%P values' sum) — exact BIGINT algebra over
    // P rows instead of an N-row replay (DuckDB's range() is
    // single-threaded). N derives from the same lineitem count.
    "agg_scaling_canary" ->
      s"""WITH base AS (SELECT ${canaryChainSql("j")} AS h, j
                        FROM range($CanaryPeriod) t(j)),
              n AS (SELECT count(*) * $CanaryReps AS nn FROM lineitem),
              parts AS (
                SELECT h % 4 AS bucket,
                       (SELECT nn FROM n) // $CanaryPeriod * sum(h) AS s,
                       (SELECT nn FROM n) // $CanaryPeriod * count(*) AS c
                FROM base GROUP BY 1
                UNION ALL
                SELECT h % 4 AS bucket, sum(h) AS s, count(*) AS c
                FROM base WHERE j < (SELECT nn FROM n) % $CanaryPeriod
                GROUP BY 1)
          SELECT bucket AS bucket, CAST(sum(s) AS BIGINT) AS checksum,
                 CAST(sum(c) AS BIGINT) AS n_rows
          FROM parts GROUP BY bucket HAVING sum(c) > 0
          ORDER BY bucket""",
    "agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts,
             count(DISTINCT l_suppkey) AS nd_supps, count(1) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_rollup" ->
      """SELECT CAST(grouping(n_name) AS INT) AS g_nation,
             CAST(grouping(c_mktsegment) AS INT) AS g_seg,
             coalesce(n_name, 'ALL') AS nation,
             coalesce(c_mktsegment, 'ALL') AS segment,
             count(1) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY ROLLUP (n_name, c_mktsegment)
         ORDER BY g_nation, g_seg, nation, segment""",
    "agg_cube" ->
      """SELECT CAST(grouping(n_name) AS INT) AS g_nation,
             CAST(grouping(c_mktsegment) AS INT) AS g_seg,
             coalesce(n_name, 'ALL') AS nation,
             coalesce(c_mktsegment, 'ALL') AS segment,
             count(1) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY CUBE (n_name, c_mktsegment)
         ORDER BY g_nation, g_seg, nation, segment""",
    "agg_gsets" ->
      """SELECT CAST(grouping(n_name) AS INT) AS g_nation,
             CAST(grouping(c_mktsegment) AS INT) AS g_seg,
             coalesce(n_name, 'ALL') AS nation,
             coalesce(c_mktsegment, 'ALL') AS segment,
             count(1) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
         ORDER BY g_nation, g_seg, nation, segment""",
    "agg_filter" ->
      """SELECT user_id,
             count(1) FILTER (WHERE event_type = 'purchase') AS n_purchase,
             count(1) FILTER (WHERE event_type = 'click') AS n_click,
             coalesce(CAST(sum(CAST(value AS DECIMAL(18,2)))
                 FILTER (WHERE event_type = 'purchase') AS DOUBLE), 0.0) AS purchase_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_collect" ->
      """SELECT user_id,
             string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_seen,
             count(1) AS n
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_stats" ->
      """SELECT event_type,
             round(stddev_samp(value), 4) AS sd_value,
             round(var_samp(value), 4) AS var_value,
             round(corr(value, CAST(hour(ts) AS DOUBLE)), 4) AS corr_value_hour,
             round(covar_samp(value, CAST(hour(ts) AS DOUBLE)), 4) AS covar_value_hour
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_pctile" ->
      """SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             round(quantile_cont(o_totalprice, 0.9), 4) AS p90
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // both engines pin the same tie rule (count DESC, value ASC), so the
    // result is deterministic where native mode() would be arbitrary
    "agg_mode" ->
      """WITH c AS (
           SELECT o_orderstatus, o_orderpriority AS mode_priority,
               count(1) AS n
           FROM orders GROUP BY 1, 2
         ), r AS (
           SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                         ORDER BY n DESC, mode_priority ASC) AS rn
           FROM c
         )
         SELECT o_orderstatus, mode_priority, n FROM r WHERE rn = 1
         ORDER BY o_orderstatus""",
    // same exact-cents integer bucketing; // is DuckDB's integer div
    "agg_hist" ->
      """SELECT o_orderstatus,
             CAST(least(5, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT) // 10000000) AS INT) AS bucket,
             count(1) AS n
         FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, bucket""",
    // exact integer Gini: same unique rank order, HUGEINT vs
    // DECIMAL(38) for the 1e20-scale product, non-negative numerator so
    // trunc-div == floor-div
    "agg_gini" ->
      """WITH c AS (
           SELECT o_orderpriority, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS cents
           FROM orders),
         r AS (
           SELECT o_orderpriority, cents,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY cents, o_orderkey) AS i
           FROM c),
         m AS (
           SELECT o_orderpriority, count(1) AS n,
               CAST(sum(cents) AS BIGINT) AS s0,
               CAST(sum(i * cents) AS BIGINT) AS s1
           FROM r GROUP BY 1)
         SELECT o_orderpriority, n, s0 AS sum_cents,
             CAST((2 * CAST(s1 AS HUGEINT) - (n + 1) * s0) * 10000
               // (CAST(n AS HUGEINT) * s0) AS BIGINT) AS gini_bp
         FROM m ORDER BY o_orderpriority""",
    // identical expression tree over exact integer (n, total); ln is
    // libm-dependent → r4 statistical double (the agg_stats class)
    "agg_entropy" ->
      """WITH c AS (
           SELECT user_id, event_type, count(1) AS n
           FROM events GROUP BY 1, 2),
         t AS (
           SELECT user_id, n,
               sum(n) OVER (PARTITION BY user_id) AS total
           FROM c)
         SELECT user_id, count(1) AS n_types,
             CAST(sum(n) AS BIGINT) AS n_events,
             round(-sum((CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
               * ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))), 4)
               AS entropy4
         FROM t GROUP BY user_id ORDER BY user_id""",
    "agg_minmax_by" ->
      """WITH mx AS (SELECT user_id, event_type,
                        row_number() OVER (PARTITION BY user_id
                                           ORDER BY value DESC, event_id DESC) AS rn
                     FROM events),
              mn AS (SELECT user_id, event_type,
                        row_number() OVER (PARTITION BY user_id
                                           ORDER BY value ASC, event_id ASC) AS rn
                     FROM events),
              mv AS (SELECT user_id, round(max(value), 4) AS max_value
                     FROM events GROUP BY user_id)
         SELECT mv.user_id, mx.event_type AS top_event,
             mn.event_type AS bottom_event, mv.max_value
         FROM mv JOIN mx ON mv.user_id = mx.user_id AND mx.rn = 1
                 JOIN mn ON mv.user_id = mn.user_id AND mn.rn = 1
         ORDER BY mv.user_id""",
    "sub_scalar" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders o
         WHERE o_totalprice > 1.5 * (
           SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(1)
           FROM orders i
           WHERE i.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",
    "sub_notin_null" ->
      """SELECT c_custkey, c_nationkey,
             c_nationkey NOT IN (SELECT c_nationkey FROM customer
                                 WHERE c_mktsegment = 'BUILDING') AS notin_clean,
             (SELECT count(1) FROM customer c2
              WHERE c2.c_nationkey NOT IN
                  (SELECT CASE WHEN c_mktsegment = 'BUILDING'
                               THEN c_nationkey END
                   FROM customer)) AS n_poisoned_survivors
         FROM customer
         ORDER BY c_custkey""",
    "sub_in" ->
      """SELECT c_custkey, c_mktsegment
         FROM customer
         WHERE c_nationkey IN (SELECT c_nationkey FROM customer
                               GROUP BY c_nationkey HAVING count(1) >= 5)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderstatus = 'P')
         ORDER BY c_custkey""",
    "agg_pivot" ->
      """SELECT user_id,
             count(1) FILTER (WHERE event_type = 'click') AS click,
             count(1) FILTER (WHERE event_type = 'error') AS error,
             count(1) FILTER (WHERE event_type = 'purchase') AS purchase,
             count(1) FILTER (WHERE event_type = 'signup') AS signup,
             count(1) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_unpivot" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
              t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
              c AS (SELECT user_id, event_type, count(1) AS n FROM events GROUP BY 1, 2)
         SELECT u.user_id AS user_id, t.event_type AS event_type,
             coalesce(c.n, 0) AS n
         FROM u CROSS JOIN t
         LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
         ORDER BY u.user_id, t.event_type""",
    "sort_multi" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
         ORDER BY c_mktsegment ASC NULLS LAST, c_acctbal DESC, c_custkey ASC""",
    "sort_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50""",
    "setop_union" ->
      """SELECT nk, count(1) AS n FROM (
           SELECT c_nationkey AS nk FROM customer
           UNION ALL SELECT s_nationkey FROM supplier)
         GROUP BY nk ORDER BY nk""",
    "setop_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
         INTERSECT SELECT s_nationkey FROM supplier ORDER BY nk""",
    "setop_except" ->
      """SELECT nk, count(1) AS n FROM (
           SELECT c_nationkey AS nk FROM customer
           EXCEPT ALL SELECT s_nationkey FROM supplier)
         GROUP BY nk ORDER BY nk""",
    "setop_intersect_all" ->
      """SELECT nk, count(1) AS n FROM (
           SELECT c_nationkey AS nk FROM customer
           INTERSECT ALL SELECT s_nationkey FROM supplier)
         GROUP BY nk ORDER BY nk""",
    "join_lateral" ->
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
         FROM nation n,
         LATERAL (
           SELECT c_custkey, c_acctbal
           FROM customer c
           WHERE c.c_nationkey = n.n_nationkey
           ORDER BY c_acctbal DESC, c_custkey ASC
           LIMIT 2
         ) t
         ORDER BY n.n_name, t.c_custkey""",
  )
}
