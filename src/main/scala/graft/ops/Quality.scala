package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Det.r4
import graft.util.Tables._

/** SURVEY.md §2-N: data-quality / profiling operators — the audit surface
  * every production ingestion pipeline runs before data is trusted
  * downstream (column profiles, constraint checks, referential
  * integrity). All counts are exact integers, so every row is fully
  * oracle-checkable.
  *
  * 100 TB posture: both ops are single-pass aggregations or
  * broadcast/shuffle joins over the audited table — no driver-side
  * iteration, no collect. The exact multi-column distinct profile uses
  * Spark's Expand (input ×k for k distinct aggs), the standard exact
  * trade; a 100 TB profile would flip the same code to
  * approx_count_distinct per column to stay single-pass without Expand.
  */
object Quality {

  /** Column profile of `lineitem` in ONE scan: per column emit null
    * count, exact distinct count, and min/max (numeric columns as raw
    * parquet doubles — no arithmetic, bit-exact cross-engine; string
    * columns as strings). Shape: stack each row to 5 (col_name, value)
    * pairs AT THE SCAN (one explicit Expand ×5), then ONE
    * groupBy(col_name) with a single distinct aggregate — Spark plans
    * that as partial-dedup-then-count, so there is no k-way
    * multi-distinct Expand (the naive 5-countDistinct one-row agg paid
    * a 5-way Expand ×20-expression state and measured 5.4 s at sf0.1;
    * this shape measures ~0.6 s for identical output). Distinct runs on
    * the string image of the value — Double.toString is injective, so
    * the count is exact, EXCEPT that -0.0 and 0.0 stringify differently
    * while comparing equal as native doubles (the oracle's DISTINCT
    * semantics); both engines therefore normalize zeros first (r8
    * ADVICE), which also pins the SIGN of a ±0.0 min/max. NaN needs no
    * step: one distinct value and sorts greatest in both engines. */
  val dq_profile: Q = (s, d) => {
    lineitem(s, d)
      .select(
        expr("CASE WHEN l_quantity = 0D THEN 0D ELSE l_quantity END")
          .as("qn"),
        expr("CASE WHEN l_extendedprice = 0D THEN 0D ELSE l_extendedprice END")
          .as("en"),
        expr("CASE WHEN l_discount = 0D THEN 0D ELSE l_discount END")
          .as("dn"),
        col("l_returnflag"), col("l_linestatus"))
      .select(expr(
        """stack(5,
             'l_quantity',      CAST(qn AS STRING),              qn,                   CAST(NULL AS STRING),
             'l_extendedprice', CAST(en AS STRING),              en,                   CAST(NULL AS STRING),
             'l_discount',      CAST(dn AS STRING),              dn,                   CAST(NULL AS STRING),
             'l_returnflag',    l_returnflag,                    CAST(NULL AS DOUBLE), l_returnflag,
             'l_linestatus',    l_linestatus,                    CAST(NULL AS DOUBLE), l_linestatus
           ) AS (col_name, vkey, vnum, vstr)"""))
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("vkey").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("vkey")).as("n_distinct"),
        min(col("vnum")).as("min_num"),
        max(col("vnum")).as("max_num"),
        min(col("vstr")).as("min_str"),
        max(col("vstr")).as("max_str"))
      .orderBy("col_name")
  }

  /** Constraint audit: one row per declared expectation with exact
    * violation/checked counts — referential integrity (orders→customer
    * orphans via LEFT ANTI join; broadcast at this dim size, SMJ at
    * scale), key uniqueness (rows in excess of distinct
    * (l_orderkey, l_linenumber) — the fixture REALLY contains ~23%
    * duplicate line numbers, so this check fires), domain bounds, and
    * temporal sanity. Each check is one aggregation or one join; the
    * union of five 1-row results is driver-free. */
  val dq_check: Q = (s, d) =>
    dqCheckOf(lineitem(s, d), orders(s, d), customer(s, d))

  /** kernel of [[dq_check]], unit-testable on synthetic tables: the
    * fixture carries REAL duplicate line numbers and ship-before-order
    * rows, but zero FK orphans and zero domain violations — QualitySpec
    * plants each violation class and asserts the exact counts, so every
    * check is proven to FIRE, not just to pass vacuously. */
  private[graft] def dqCheckOf(li: org.apache.spark.sql.DataFrame,
      od: org.apache.spark.sql.DataFrame,
      cust: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val orphans = od.join(cust,
        od("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("viol"))
      .select(lit("orders_fk_customer").as("check_name"), col("viol"))
    val nOrders = od.agg(count(lit(1)).as("n")).select(col("n"))
    val fk = orphans.crossJoin(nOrders)
      .select(col("check_name"), col("viol").as("n_violation"),
        col("n").as("n_checked"))

    // NULL-key semantics pinned on BOTH engines (r8 ADVICE): Spark's
    // countDistinct(a, b) drops rows where EITHER key is NULL, so
    // n − nd already counts every null-key row as a violation — the
    // right call for a PK check (a NULL key can't be unique). The oracle
    // mirrors it by NULLing the counted struct when a key is NULL, since
    // DuckDB's count(DISTINCT (a, b)) would otherwise count the
    // null-field struct as a value.
    // r17 (guide §2.3/§6): pk + qty + disc are three aggregates over the
    // SAME table — one scan computes all of them (the countDistinct plans
    // as the identical two-phase distinct the standalone pk check paid),
    // then explode emits the three per-check rows. Values unchanged.
    val liChecks = li.agg(count(lit(1)).as("n"),
        countDistinct(col("l_orderkey"), col("l_linenumber")).as("nd"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("qv"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("dv"))
      .select(explode(array(
        struct(lit("lineitem_pk_unique").as("check_name"),
          (col("n") - col("nd")).as("n_violation"), col("n").as("n_checked")),
        struct(lit("lineitem_qty_domain").as("check_name"),
          col("qv").as("n_violation"), col("n").as("n_checked")),
        struct(lit("lineitem_disc_domain").as("check_name"),
          col("dv").as("n_violation"), col("n").as("n_checked")))).as("r"))
      .select(col("r.check_name").as("check_name"),
        col("r.n_violation").as("n_violation"),
        col("r.n_checked").as("n_checked"))

    // a lineitem must not ship before its order date
    val temporal = li.join(od, li("l_orderkey") === od("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
          .as("v"))
      .select(lit("lineitem_ship_after_order").as("check_name"),
        col("v").as("n_violation"), col("n").as("n_checked"))

    fk.union(liChecks).union(temporal)
      .orderBy("check_name")
  }

  /** Ingestion drift monitor: daily event counts per type with
    * day-over-day drift in integer basis points and an alert flag at
    * ±50% — the volume-anomaly check every scheduled pipeline runs on
    * its own output. drift_bp = `n*10000 div prev − 10000`: the
    * numerator is always non-negative, so Spark's truncating `div` and
    * DuckDB's flooring `//` agree (a signed `(n−prev)*10000 div prev`
    * would diverge on negative drift — trunc vs floor). Scale: the
    * window runs AFTER aggregation over the (type, day) table — rows =
    * types × days, bounded — never over the raw events. */
  val dq_drift: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("day")
    events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev", lag("n", 1).over(w))
      .withColumn("drift_bp",
        expr("CAST(n * 10000 div prev - 10000 AS INT)"))
      .withColumn("alert",
        coalesce(abs(col("drift_bp")) >= 5000, lit(false)))
      .orderBy("event_type", "day")
  }

  /** Statistical volume-anomaly monitor: flag any (event_type, day)
    * whose daily count sits more than 3 sample standard deviations from
    * that type's mean — the z-score twin of [[dq_drift]]'s
    * day-over-day ratio (drift catches steps, z-score catches level
    * outliers against the whole history). The ALERT decision is EXACT
    * integer arithmetic, never a float comparison: z² > 9 is
    * algebraically cleared of divisions to
    * `(n·c − s)²·(c−1) > 9·c·(c·m2 − s²)` over the integer moments
    * (c days, s = Σn, m2 = Σn²). The cleared products are CUBIC in the
    * daily counts, so both sides accumulate them 128-bit — Spark in
    * DECIMAL(38,0) (the agg_gini pattern), DuckDB in HUGEINT via
    * explicit casts (its sum() windows are already HUGEINT) — and
    * compare identical exact integers; int64 would wrap around
    * ~10^6-10^7 events/day/type with a year of history (r9 ADVICE).
    * 38 digits hold n²·c³, i.e. ~4·10^13 events/day/type over a
    * 10-year history — no realistic feed reaches it. The informational
    * z4 column is the usual r4 statistical double, computed with an
    * identical expression tree on both sides. Scale: the moments are
    * frame-less window aggregates over the ALREADY-aggregated
    * (type, day) table — rows = types × days — never over raw events. */
  val dq_anomaly: Q = (s, d) => dqAnomalyOf(events(s, d))

  /** kernel over any (event_type, ts) relation — unit-tested on planted
    * outliers (QualitySpec). */
    private[graft] def dqAnomalyOf(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    dqAnomalyOfCounts(ev
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  /** over any pre-aggregated (event_type, day, n) relation. Split out so
    * the overflow guard below is testable with planted counts no row
    * fixture could reach. s and m2 accumulate in DECIMAL(38,0) from the
    * first multiplication: a LongType `sum(n*n)` wraps SILENTLY at
    * n ≈ 3·10^9/day — far below the documented 4·10^13 bound — and a
    * wrapped value is non-NULL, so it would corrupt the alert without
    * ever tripping the loud guard. */
  private[graft] def dqAnomalyOfCounts(
      cnt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("event_type")
    cnt
      .withColumn("c", count(lit(1)).over(w))
      .withColumn("s", sum(col("n").cast("decimal(38,0)")).over(w))
      .withColumn("m2",
        sum(col("n").cast("decimal(38,0)") * col("n")).over(w))
      .select(col("event_type"), col("day"), col("n"),
        when(col("c") > 1, r4(
          (col("n").cast("double") - col("s").cast("double") / col("c").cast("double")) /
            sqrt((col("m2").cast("double") -
              col("s").cast("double") * col("s").cast("double") / col("c").cast("double")) /
              (col("c").cast("double") - lit(1.0d))))).as("z4"),
        // n/c/s/m2 are counts and sums of counts — never NULL — so a
        // NULL comparison can only mean DECIMAL(38,0) overflow (Spark's
        // non-ANSI decimal arithmetic nulls on overflow while the
        // DuckDB oracle's HUGEINT stays exact). Past the documented
        // ~4e13 events/day/type bound the engines would diverge as
        // NULL-vs-boolean; error loudly instead (r10 ADVICE). coalesce
        // short-circuits, so in-bounds feeds never evaluate the raise.
        coalesce(
          expr("(CAST(n AS DECIMAL(38,0))*c - s)" +
            "*(CAST(n AS DECIMAL(38,0))*c - s)*(c-1)" +
            " > 9*CAST(c AS DECIMAL(38,0))" +
            "*(CAST(c AS DECIMAL(38,0))*m2 - CAST(s AS DECIMAL(38,0))*s)"),
          expr("raise_error('dq_anomaly: DECIMAL(38,0) overflow in the " +
            "alert arithmetic — daily volume beyond the ~4e13 " +
            "events/day/type design bound')").cast("boolean"))
          .as("alert"))
      .orderBy("event_type", "day")
  }

  /** Robust volume-anomaly monitor via MEDIAN absolute deviation — the
    * robust twin of [[dq_anomaly]]: a z-score inflates its own standard
    * deviation (a single 10× day caps |z| at (c−1)/√c — observed while
    * testing dq_anomaly), while the median/MAD pair barely moves, so
    * MAD flags exactly the outliers the contaminated σ hides. Flag a
    * (type, day) when |n − median| > 3·MAD.
    *
    * The comparison is EXACT despite medians interpolating: medians of
    * integers land on halves and MADs of half-spaced deviations on
    * quarters, so `dev4 = 2·|2n − med2|` and `mad4 = 4·MAD` are
    * INTEGER-VALUED doubles (halves/quarters are exact binary), and
    * `dev4 > 3·mad4` compares identical integers on both engines — no
    * float half-boundary. Moments run over the already-aggregated
    * (type, day) relation, never raw events. */
  val dq_mad: Q = (s, d) => dqMadOf(events(s, d))

  /** kernel over any (event_type, ts) relation — QualitySpec proves the
    * robustness contrast on the exact short-series fixture whose z-score
    * stays silent. */
  private[graft] def dqMadOf(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("event_type")
    ev
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("med2",
        percentile(col("n"), lit(0.5)).over(w) * 2)
      .withColumn("dev4", abs(col("n") * 4 - col("med2") * 2))
      .withColumn("mad4", percentile(col("dev4"), lit(0.5)).over(w))
      .select(col("event_type"), col("day"), col("n"),
        col("med2").cast("long").as("med2"),
        col("mad4").cast("long").as("mad4"),
        (col("dev4") > col("mad4") * 3).as("alert"))
      .orderBy("event_type", "day")
  }

  /** CUSUM drift monitor — completes the §2-N detector family: dq_drift
    * catches STEPS (day-over-day ratio), dq_anomaly/dq_mad catch LEVEL
    * outliers (z-score / robust MAD), and CUSUM catches the small
    * SUSTAINED shift all three miss — a persistent +20 % drift never
    * trips a 3σ bound but accumulates here day by day.
    *
    * Exact integer arithmetic throughout, via the closed form that
    * makes the recursive definition window-expressible:
    * `S_i = max(0, S_{i-1} + d_i)` equals
    * `prefix_i − min(0, running_min(prefix))` with
    * `prefix = Σ (2n − med2 − slack2)` — doubled-integer deviations
    * against the per-type median (the dq_mad med2), slack2 =
    * `med2 div 5` (a 20 % allowance), alarm at `S2 > 2·med2`. Both
    * engines run identical integer windows; no float anywhere. The
    * windows run over the tiny (type, day) relation. */
  val dq_cusum: Q = (s, d) => dqCusumOf(events(s, d))

  /** kernel over any (event_type, ts) relation — QualitySpec drives a
    * planted sustained-drift series that the level detectors miss. */
  private[graft] def dqCusumOf(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byType = Window.partitionBy("event_type")
    val run = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("med2",
        (percentile(col("n"), lit(0.5)).over(byType) * 2).cast("long"))
      .withColumn("d2",
        col("n") * 2 - col("med2") - expr("med2 div 5"))
      .withColumn("prefix", sum(col("d2")).over(run))
      .withColumn("cusum2",
        col("prefix") - least(lit(0L), min(col("prefix")).over(run)))
      .select(col("event_type"), col("day"), col("n"), col("med2"),
        col("cusum2"), (col("cusum2") > col("med2") * 2).as("alarm"))
      .orderBy("event_type", "day")
  }

  /** Data-freshness monitor — the staleness leg of the operational DQ
    * triad (volume detectors above, validity in dq_check): per event
    * type, the last-seen timestamp and its lag in WHOLE HOURS behind
    * the globally freshest type, alert at ≥ 24 h. The lag is exact
    * integer µs arithmetic (`div` by 3,600,000,000 on a non-negative
    * numerator — the global max is ≥ every per-type max by
    * construction, so trunc/floor division agree); no float anywhere.
    *
    * 100 TB posture: one scan → one hash aggregation to (type, max ts,
    * count); the global-max window runs over the types-only relation. */
  val dq_freshness: Q = (s, d) => dqFreshnessOf(events(s, d))

  /** kernel over any (event_type, ts) relation — QualitySpec plants a
    * 30-hour-stale type next to a fresh one. */
  private[graft] def dqFreshnessOf(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    ev.groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n"))
      .withColumn("latest", max(col("last_ts")).over(Window.partitionBy()))
      .withColumn("stale_h",
        expr("(unix_micros(latest) - unix_micros(last_ts))" +
          " div CAST(3600000000 AS BIGINT)"))
      .select(col("event_type"), col("last_ts"), col("n"), col("stale_h"),
        (col("stale_h") >= 24L).as("alert"))
      .orderBy("event_type")
  }

  /** Benford first-digit screen over order totals — the classic
    * fabricated-data / distribution-shift audit: observed first-digit
    * shares of the exact DECIMAL-derived cents vs the Benford reference
    * `log10(1 + 1/d)`, both as integer basis points so the comparison
    * is pure integer arithmetic (the reference bp values are the same
    * nine hard-coded constants on both engines — no float log anywhere).
    * A 9-row digit spine LEFT JOIN keeps absent digits at n = 0, so the
    * output is always exactly nine rows. `n·10000 div total` keeps the
    * numerator non-negative (trunc/floor agree); dev_bp is a plain
    * integer subtraction, safe negative. TPC-H totals are range-bound,
    * not Benford — the op REPORTS deviations, it doesn't assert
    * conformance; QualitySpec plants a conforming series and a uniform
    * one and checks the bp math against a Scala mirror.
    *
    * 100 TB posture: one scan → one 9-group hash aggregation; the spine
    * join and total window run over nine rows. */
  val dq_benford: Q = (s, d) => dqBenfordOf(s, orders(s, d))

  private[graft] def dqBenfordOf(
      s: org.apache.spark.sql.SparkSession,
      od: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // round(log10(1+1/d) * 10000), d = 1..9; sums to 10000
    val expected = Seq((1, 3010L), (2, 1761L), (3, 1249L), (4, 969L),
      (5, 792L), (6, 669L), (7, 580L), (8, 512L), (9, 458L))
      .toDF("digit", "exp_bp")
    // abs() BEFORE the string image: a negative amount would lead with
    // '-', which Spark casts to NULL but DuckDB REFUSES to cast — the
    // magnitude's first digit is the Benford subject either way
    val counts = od
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
      .select(substring(abs(col("cents")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    expected.join(counts, Seq("digit"), "left")
      .withColumn("n", coalesce(col("cnt"), lit(0L)))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("obs_bp", expr("n * 10000 div total"))
      .select(col("digit"), col("n"), col("obs_bp"), col("exp_bp"),
        (col("obs_bp") - col("exp_bp")).as("dev_bp"))
      .orderBy("digit")
  }

  /** Schema-drift detector (r12 — the ingestion-audit leg the dq family
    * lacked): diff two ingestion batches' SCHEMAS (the scan_evolved
    * fixture shape — consecutive crawls of an evolving upstream) into
    * one row per column across either batch — `added` / `dropped` /
    * `retyped` / `kept` — alongside each side's null rate and the
    * null-rate DRIFT in integer basis points (the dq_drift convention:
    * rounded-integer bp via truncating division of non-negative
    * numerators, then a plain signed subtraction — no float ratios, no
    * signed div). A column that "kept" its type while its null rate
    * jumped 2000 bp is the silent upstream regression schema-equality
    * checks wave through; this op is the one that catches it.
    *
    * Shape: the schema diff is driver-side metadata (two .schema
    * reads); the null counts are ONE single-pass aggregation per batch
    * (k conditional sums — no Expand, no per-column scan), collected as
    * a 1-row probe each (bounded by construction), and the k-row
    * verdict is a local relation. At 100 TB the cost is two linear
    * scans, nothing else. */
  val dq_schema: Q = (s, d) => {
    // the two-crawl fixture is the input; bench steady state pays the
    // two stats scans, not two rewrites
    val out = Sources.builtDir(s, d, "dq_schema") { out =>
      val src = orders(s, d).withColumn("o_year", year(col("o_orderdate")))
      // batch A (the prior crawl): o_custkey present, o_totalprice
      // nulled on the %10=3 keys (~1000 bp)
      src.where(col("o_year") <= 1997)
        .select(col("o_orderkey"), col("o_year"), col("o_custkey"),
          when(col("o_orderkey") % 10 === 3, lit(null))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/batch1")
      // batch B (the new crawl): o_custkey dropped, o_orderpriority
      // added, o_year RETYPED int→string, o_totalprice nulled on %5=0
      // (~2000 bp)
      src.where(col("o_year") >= 1998)
        .select(col("o_orderkey"),
          col("o_year").cast("string").as("o_year"),
          when(col("o_orderkey") % 5 === 0, lit(null))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$out/batch2")
    }
    dqSchemaOf(s.read.parquet(s"$out/batch1"),
      s.read.parquet(s"$out/batch2"))
  }

  /** kernel over any two batches — unit-tested on planted drift classes
    * (QualitySpec). Null-rate bp is NULL for a side with zero rows
    * (0/0 is not "0 bp clean"), and drift only exists when both sides
    * carry the column. */
  private[graft] def dqSchemaOf(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = a.sparkSession
    import s.implicits._
    // one single-pass agg per side: total rows + per-column null counts;
    // the collect is a 1-row probe, bounded by construction
    def stats(df: org.apache.spark.sql.DataFrame): (Long, Map[String, Long]) = {
      val names = df.schema.fieldNames.toSeq
      val aggs = count(lit(1)).as("__n") +:
        names.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__$c"))
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      // sum over a ZERO-ROW side is SQL NULL, not 0 — read it as 0; the
      // bp() guard on the row count keeps "no evidence" reported as NULL
      (r.getLong(0),
        names.zipWithIndex.map { case (c, i) =>
          c -> (if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1))
        }.toMap)
    }
    val (ra, nullsA) = stats(a)
    val (rb, nullsB) = stats(b)
    val ta = a.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val tb = b.schema.map(f => f.name -> f.dataType.simpleString).toMap
    def bp(nn: Long, r: Long): Option[Int] =
      if (r == 0) None else Some((nn * 10000L / r).toInt)
    val rows = (ta.keySet ++ tb.keySet).toSeq.sorted.map { c =>
      val status = (ta.get(c), tb.get(c)) match {
        case (Some(x), Some(y)) if x == y => "kept"
        case (Some(_), Some(_)) => "retyped"
        case (Some(_), None) => "dropped"
        case (None, Some(_)) => "added"
        case (None, None) => sys.error("unreachable")
      }
      val bpA = ta.get(c).flatMap(_ => bp(nullsA(c), ra))
      val bpB = tb.get(c).flatMap(_ => bp(nullsB(c), rb))
      val drift = for (x <- bpA; y <- bpB) yield y - x
      (c, status, ta.get(c), tb.get(c), bpA, bpB, drift)
    }
    rows.toDF("col_name", "status", "type_a", "type_b",
      "null_bp_a", "null_bp_b", "drift_bp")
      .orderBy("col_name")
  }

  /** Financial reconciliation audit — does each order header's total
    * reconcile with its lines' roll-up Σ extprice·(1−disc)·(1+tax)
    * (the TPC-H identity)? Per priority bucket: header count, headers
    * with NO lines at all, headers whose total misses the roll-up by
    * more than a cent, and the total absolute drift in EXACT integer
    * cents. The fixture deliberately does NOT honor the identity
    * (verified: 0/1500 headers reconcile at sf0.001 and 27 have no
    * lines) — which is the audit's value: it demonstrably FIRES on
    * real drift instead of passing vacuously; QualitySpec plants a
    * reconciled book to prove the clean side too. Every money step is
    * DECIMAL (CLAUDE.md discipline): the per-line product is exact at
    * scale 6, the diff exact, the cents via floor on a non-negative
    * DECIMAL (trunc ≡ floor), so no float ever crosses engines.
    * 100 TB shape: one partial-agg'd roll-up keyed like the join, one
    * shuffle join header↔roll-up, one small groupBy. */
  val dq_reconcile: Q = (s, d) =>
    dqReconcileOf(orders(s, d), lineitem(s, d))

  private[graft] def dqReconcileOf(
      orders: org.apache.spark.sql.DataFrame,
      lineitem: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val roll = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(expr(
        """CAST(l_extendedprice AS DECIMAL(12,2)) *
           CAST(1 - l_discount AS DECIMAL(4,2)) *
           CAST(1 + l_tax AS DECIMAL(4,2))""")).as("s"))
      .withColumnRenamed("l_orderkey", "o_orderkey")
    val tol = "CAST(0.01 AS DECIMAL(4,2))"
    orders.join(roll, Seq("o_orderkey"), "left")
      .withColumn("ad",
        expr("abs(CAST(o_totalprice AS DECIMAL(12,2)) - s)"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("s").isNull, 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(expr(s"ad > $tol"), 1L).otherwise(0L)).as("n_mismatch"),
        sum(when(expr(s"ad > $tol"),
          expr("CAST(floor(ad * 100) AS BIGINT)")).otherwise(0L))
          .as("drift_cents"))
      .orderBy("o_orderpriority")
  }

  val queries: Seq[(String, Q)] = Seq(
    "dq_profile" -> dq_profile,
    "dq_check" -> dq_check,
    "dq_drift" -> dq_drift,
    "dq_anomaly" -> dq_anomaly,
    "dq_mad" -> dq_mad,
    "dq_cusum" -> dq_cusum,
    "dq_benford" -> dq_benford,
    "dq_freshness" -> dq_freshness,
    "dq_schema" -> dq_schema,
    "dq_reconcile" -> dq_reconcile,
  )

  val oracle: Seq[(String, String)] = Seq(
    // identical DECIMAL pipeline: exact scale-6 per-line product, exact
    // diff, floor-to-cents on a non-negative decimal — every output an
    // exact integer
    "dq_reconcile" ->
      """WITH roll AS (
           SELECT l_orderkey AS o_orderkey,
               sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                   CAST(1 - l_discount AS DECIMAL(4,2)) *
                   CAST(1 + l_tax AS DECIMAL(4,2))) AS s
           FROM lineitem GROUP BY 1),
         j AS (
           SELECT o.o_orderpriority, r.s,
               abs(CAST(o.o_totalprice AS DECIMAL(12,2)) - r.s) AS ad
           FROM orders o LEFT JOIN roll r USING (o_orderkey))
         SELECT o_orderpriority,
             CAST(count(1) AS BIGINT) AS n_orders,
             CAST(sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_no_lines,
             CAST(sum(CASE WHEN ad > CAST(0.01 AS DECIMAL(4,2))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
             CAST(sum(CASE WHEN ad > CAST(0.01 AS DECIMAL(4,2))
                           THEN CAST(floor(ad * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS drift_cents
         FROM j GROUP BY 1 ORDER BY o_orderpriority""",
    // the fixture recipe is deterministic, so the verdict replays
    // statically: statuses and types are literals, the null-rate bps
    // recompute from the source relation with the same truncating
    // non-negative division, drift is the plain signed subtraction
    "dq_schema" ->
      """WITH a AS (
           SELECT count(1) AS r,
               sum(CASE WHEN o_orderkey % 10 = 3 THEN 1 ELSE 0 END) AS nn
           FROM orders WHERE year(o_orderdate) <= 1997),
         b AS (
           SELECT count(1) AS r,
               sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS nn
           FROM orders WHERE year(o_orderdate) >= 1998)
         SELECT * FROM (
           SELECT 'o_custkey' AS col_name, 'dropped' AS status,
               'bigint' AS type_a, CAST(NULL AS VARCHAR) AS type_b,
               CAST(0 AS INT) AS null_bp_a, CAST(NULL AS INT) AS null_bp_b,
               CAST(NULL AS INT) AS drift_bp
           UNION ALL
           SELECT 'o_orderkey', 'kept', 'bigint', 'bigint',
               CAST(0 AS INT), CAST(0 AS INT), CAST(0 AS INT)
           UNION ALL
           SELECT 'o_orderpriority', 'added', CAST(NULL AS VARCHAR),
               'string', CAST(NULL AS INT), CAST(0 AS INT),
               CAST(NULL AS INT)
           UNION ALL
           SELECT 'o_totalprice', 'kept', 'double', 'double',
               CAST(a.nn * 10000 // a.r AS INT),
               CAST(b.nn * 10000 // b.r AS INT),
               CAST(b.nn * 10000 // b.r - a.nn * 10000 // a.r AS INT)
           FROM a, b
           UNION ALL
           SELECT 'o_year', 'retyped', 'int', 'string',
               CAST(0 AS INT), CAST(0 AS INT), CAST(0 AS INT))
         ORDER BY col_name""",
    // exact integer µs lag; // by the hour constant on a non-negative
    // numerator (global max >= per-type max) matches Spark's trunc div
    "dq_freshness" ->
      """WITH g AS (
           SELECT event_type, max(ts) AS last_ts, count(1) AS n
           FROM events GROUP BY 1),
         m AS (SELECT max(last_ts) AS latest FROM g)
         SELECT g.event_type, g.last_ts, CAST(g.n AS BIGINT) AS n,
             CAST((epoch_us(m.latest) - epoch_us(g.last_ts)) // 3600000000
               AS BIGINT) AS stale_h,
             (epoch_us(m.latest) - epoch_us(g.last_ts)) // 3600000000 >= 24
               AS alert
         FROM g, m ORDER BY event_type""",
    // same DECIMAL cents derivation as agg_gini; the nine reference bp
    // constants are shared literals, shares are `// total` on
    // non-negative numerators, dev_bp plain integer subtraction
    "dq_benford" ->
      """WITH c AS (
           SELECT CAST(substr(CAST(abs(CAST(CAST(o_totalprice
                     AS DECIMAL(18,2)) * 100 AS BIGINT)) AS VARCHAR), 1, 1)
                   AS INT) AS digit
           FROM orders),
         g AS (SELECT digit, count(1) AS cnt FROM c GROUP BY 1),
         e (digit, exp_bp) AS (VALUES (1, 3010), (2, 1761), (3, 1249),
           (4, 969), (5, 792), (6, 669), (7, 580), (8, 512), (9, 458)),
         j AS (
           SELECT e.digit, COALESCE(g.cnt, 0) AS n, e.exp_bp
           FROM e LEFT JOIN g ON e.digit = g.digit),
         t AS (SELECT sum(n) AS total FROM j)
         SELECT CAST(j.digit AS INT) AS digit, CAST(j.n AS BIGINT) AS n,
             CAST(j.n * 10000 // t.total AS BIGINT) AS obs_bp,
             CAST(j.exp_bp AS BIGINT) AS exp_bp,
             CAST(j.n * 10000 // t.total - j.exp_bp AS BIGINT) AS dev_bp
         FROM j, t ORDER BY digit""",
    // identical integer windows: doubled deviations vs the med2
    // reference, prefix-minus-running-min CUSUM closed form; med2 // 5
    // on a non-negative operand matches Spark's trunc div
    "dq_cusum" ->
      """WITH c AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               count(1) AS n
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT event_type, day, n,
               CAST(median(n) OVER (PARTITION BY event_type) * 2 AS BIGINT)
                 AS med2
           FROM c),
         p AS (
           SELECT event_type, day, n, med2,
               sum(n * 2 - med2 - med2 // 5)
                 OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS prefix
           FROM m),
         s AS (
           SELECT event_type, day, n, med2, prefix,
               prefix - least(0, min(prefix)
                 OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING)) AS cusum2
           FROM p)
         SELECT event_type, day, n, med2,
             CAST(cusum2 AS BIGINT) AS cusum2,
             cusum2 > med2 * 2 AS alarm
         FROM s ORDER BY event_type, day""",
    // medians of integers land on exact halves (and MADs on quarters):
    // med2/dev4/mad4 are integer-valued doubles, so the alert compares
    // identical integers — percentile_cont semantics on both engines
    "dq_mad" ->
      """WITH c AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               count(1) AS n
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT event_type, day, n,
               median(n) OVER (PARTITION BY event_type) * 2 AS med2
           FROM c),
         d AS (
           SELECT event_type, day, n, med2,
               abs(n * 4 - med2 * 2) AS dev4
           FROM m),
         f AS (
           SELECT event_type, day, n, med2, dev4,
               median(dev4) OVER (PARTITION BY event_type) AS mad4
           FROM d)
         SELECT event_type, day, n, CAST(med2 AS BIGINT) AS med2,
             CAST(mad4 AS BIGINT) AS mad4, dev4 > mad4 * 3 AS alert
         FROM f ORDER BY event_type, day""",
    // identical expression tree for z4 (bit-identical IEEE ops before
    // the r4); the alert is a pure integer comparison on both engines
    "dq_anomaly" ->
      """WITH c AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               count(1) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, n,
               count(1) OVER (PARTITION BY event_type) AS c,
               sum(n)  OVER (PARTITION BY event_type) AS s,
               sum(n*n) OVER (PARTITION BY event_type) AS m2
           FROM c)
         SELECT event_type, day, n,
             CASE WHEN c > 1 THEN round(
               (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / CAST(c AS DOUBLE)) /
               sqrt((CAST(m2 AS DOUBLE) -
                     CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(c AS DOUBLE)) /
                    (CAST(c AS DOUBLE) - 1.0)), 4) END AS z4,
             (CAST(n AS HUGEINT)*c - s)*(CAST(n AS HUGEINT)*c - s)*(c-1)
               > 9*CAST(c AS HUGEINT)*(CAST(c AS HUGEINT)*m2
                                       - CAST(s AS HUGEINT)*s) AS alert
         FROM w ORDER BY event_type, day""",
    "dq_drift" ->
      """WITH c AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               count(1) AS n
           FROM events GROUP BY 1, 2),
         l AS (
           SELECT *, lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev
           FROM c)
         SELECT event_type, day, n, prev,
             CAST(n * 10000 // prev - 10000 AS INT) AS drift_bp,
             COALESCE(abs(n * 10000 // prev - 10000) >= 5000, false) AS alert
         FROM l ORDER BY event_type, day""",
    "dq_profile" ->
      """WITH src AS (
           SELECT CASE WHEN l_quantity = 0 THEN 0 ELSE l_quantity END
                    AS l_quantity,
               CASE WHEN l_extendedprice = 0 THEN 0 ELSE l_extendedprice END
                    AS l_extendedprice,
               CASE WHEN l_discount = 0 THEN 0 ELSE l_discount END
                    AS l_discount,
               l_returnflag, l_linestatus
           FROM lineitem),
         a AS (
           SELECT count(1) AS n_rows,
               count(1) FILTER (WHERE l_quantity IS NULL) AS qn_null,
               count(DISTINCT l_quantity) AS qn_dist,
               min(l_quantity) AS qn_min, max(l_quantity) AS qn_max,
               count(1) FILTER (WHERE l_extendedprice IS NULL) AS en_null,
               count(DISTINCT l_extendedprice) AS en_dist,
               min(l_extendedprice) AS en_min, max(l_extendedprice) AS en_max,
               count(1) FILTER (WHERE l_discount IS NULL) AS dn_null,
               count(DISTINCT l_discount) AS dn_dist,
               min(l_discount) AS dn_min, max(l_discount) AS dn_max,
               count(1) FILTER (WHERE l_returnflag IS NULL) AS rn_null,
               count(DISTINCT l_returnflag) AS rn_dist,
               min(l_returnflag) AS rn_min, max(l_returnflag) AS rn_max,
               count(1) FILTER (WHERE l_linestatus IS NULL) AS sn_null,
               count(DISTINCT l_linestatus) AS sn_dist,
               min(l_linestatus) AS sn_min, max(l_linestatus) AS sn_max
           FROM src)
         SELECT 'l_quantity' AS col_name, CAST(n_rows AS BIGINT) AS n_rows,
             CAST(qn_null AS BIGINT) AS n_null, CAST(qn_dist AS BIGINT) AS n_distinct,
             qn_min AS min_num, qn_max AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a
         UNION ALL
         SELECT 'l_extendedprice', CAST(n_rows AS BIGINT), CAST(en_null AS BIGINT),
             CAST(en_dist AS BIGINT), en_min, en_max, NULL, NULL FROM a
         UNION ALL
         SELECT 'l_discount', CAST(n_rows AS BIGINT), CAST(dn_null AS BIGINT),
             CAST(dn_dist AS BIGINT), dn_min, dn_max, NULL, NULL FROM a
         UNION ALL
         SELECT 'l_returnflag', CAST(n_rows AS BIGINT), CAST(rn_null AS BIGINT),
             CAST(rn_dist AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             rn_min, rn_max FROM a
         UNION ALL
         SELECT 'l_linestatus', CAST(n_rows AS BIGINT), CAST(sn_null AS BIGINT),
             CAST(sn_dist AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             sn_min, sn_max FROM a
         ORDER BY col_name""",
    "dq_check" ->
      """SELECT 'orders_fk_customer' AS check_name,
             CAST((SELECT count(1) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
               AS n_violation,
             CAST((SELECT count(1) FROM orders) AS BIGINT) AS n_checked
         UNION ALL
         SELECT 'lineitem_pk_unique',
             CAST(count(1) - count(DISTINCT
                 CASE WHEN l_orderkey IS NOT NULL
                       AND l_linenumber IS NOT NULL
                      THEN ROW(l_orderkey, l_linenumber) END) AS BIGINT),
             CAST(count(1) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'lineitem_qty_domain',
             CAST(count(1) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
             CAST(count(1) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'lineitem_disc_domain',
             CAST(count(1) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT),
             CAST(count(1) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'lineitem_ship_after_order',
             CAST(count(1) FILTER (WHERE l.l_shipdate < o.o_orderdate) AS BIGINT),
             CAST(count(1) AS BIGINT)
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         ORDER BY check_name""",
  )
}
