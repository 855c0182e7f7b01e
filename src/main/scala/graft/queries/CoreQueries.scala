package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.VectorOps
import graft.operators.{BandedWindow, BoundedWindow, FrameQuantile, Layout, TemporalJoin}

/** The declared relational query set (FIXTURES.md §3, Q01-Q19), written
  * DataFrame-first so Catalyst plans them (column pruning + filter pushdown to
  * the parquet scans, broadcast joins for the small dimension tables, partial
  * aggregation before shuffles, TakeOrderedAndProject for top-k).
  *
  * Determinism contract for the DuckDB oracle: every query ends in a total
  * ORDER BY (ties broken by a key column) and every column produced by float
  * arithmetic is rounded to 6 decimals in BOTH engines.
  *
  * Reference capability mapping (see SURVEY.md §2): Q01-Q03 cover the
  * reference's own scalar surface — projection/alias/limit
  * (`/root/reference/pkg/clickhouse/connect.go:52`), truncating numeric cast
  * (`/root/reference/pkg/clickhouse/export_clickhouse.go:76,79`), and the
  * README verification query's `intDiv` + `fromUnixTimestamp`
  * (`/root/reference/README.md:91-107`). Q04+ are the Layer C extensions.
  */
object CoreQueries {

  /** Q01 — projection + alias + coalesce + LIMIT (SURVEY A4/A5/B3). */
  def q01(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .orderBy("event_id")
      .limit(50)
      .select(
        col("event_id"),
        col("event_type").as("kind"),
        coalesce(col("props"), lit("")).as("props"))

  /** Q02 — truncating double->long cast, parity with the reference's
    * `int(v.(float64))` (`export_clickhouse.go:76`). Spark's cast truncates
    * toward zero; the oracle uses `trunc()` because DuckDB's cast rounds.
    */
  def q02(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .orderBy("event_id")
      .limit(100)
      .select(col("event_id"), col("value").cast("long").as("v"))

  /** Q03 — `intDiv` + epoch->timestamp, parity with the README verification
    * query `fromUnixTimestamp(intDiv(start,1000))` (`README.md:94-95`).
    */
  def q03(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .orderBy("event_id")
      .limit(100)
      .selectExpr("event_id", "timestamp_seconds(unix_millis(ts) div 1000) AS sec")

  /** Q04 — filter with conjunctive predicates, pushed to the parquet scan.
    * The order is total ON THE OUTPUT (tie rows are identical rows): the
    * synthetic lineitem does NOT make (orderkey, linenumber) unique, so
    * sorting on the projected-away linenumber left visible-row ties the
    * engines ordered differently (found by the r9 sf1 sweep).
    */
  def q04(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .orderBy("l_orderkey", "l_quantity")
      .select("l_orderkey", "l_quantity")

  /** Q05 — hash aggregate with partial+final (map-side combine).
    *
    * Money/quantity sums go through DECIMAL: double summation order differs
    * between engines (and between partitionings of the same engine), and at
    * sf>=0.1 the ~1e-6 drift crosses the round(...,6) boundary. Decimal
    * summation is exact and order-independent, so results are stable at any
    * scale; the cast-to-2-decimals happens identically in both engines.
    */
  def q05(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 6).as("sq"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / count(lit(1)), 6).as("ap"),
        count(lit(1)).as("c"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q06 — distinct aggregation. */
  def q06(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .agg(
        countDistinct(col("user_id")).as("u"),
        countDistinct(col("event_type")).as("t"))

  /** Q07 — inner join against a small dim; explicitly broadcast. */
  def q07(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("c"))
      .orderBy("n_name")

  /** Q08 — join + aggregate + top-k (TakeOrderedAndProject). */
  def q08(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy("c_name")
      .agg(round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6).as("s"))
      .orderBy(desc("s"), asc("c_name"))
      .limit(10)

  /** Q09 — left outer join, with the aggregation pushed BELOW the join:
    * orders collapse to one count per custkey first (map-side partial agg ⇒
    * the shuffle carries distinct custkeys, not every order row), then the
    * left join attaches counts and unmatched customers default to 0. Same
    * result as join-then-group (`count(o_orderkey)` skipping unmatched-row
    * nulls), but the shuffled volume scales with customers rather than
    * orders — the difference between the two plans at 100× fact-table skew.
    */
  def q09(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n0"))
    Tables.customer(s, dir)
      .join(perCust, col("o_custkey") === col("c_custkey"), "left")
      .select(col("c_custkey"), coalesce(col("n0"), lit(0L)).as("n"))
      .orderBy("c_custkey")
  }

  /** Q10 — anti join (NOT EXISTS). */
  def q10(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("no_orders"))

  /** Q11 — rollup (grouping sets). */
  def q11(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.lineitem(s, dir))
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 6).as("s"))
      .orderBy(col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)

  /** Q12 — ranking + offset window functions. */
  def q12(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    EventsBackbone.byUser(s, dir)
      .select(
        col("event_id"),
        col("user_id"),
        rank().over(w).cast("long").as("r"),
        lag("value", 1).over(w).as("pv"))
      .orderBy("event_id")
  }

  /** Q13 — window frame (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW). */
  def q13(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-2, Window.currentRow)
    EventsBackbone.byUser(s, dir)
      .select(
        col("event_id"),
        round(sum("value").over(w), 6).as("mv"))
      .orderBy("event_id")
  }

  /** Q14 — set op: INTERSECT (distinct semantics in both engines). */
  def q14(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("k"))
      .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("k")))
      .orderBy("k")

  /** Q15 — tumbling time bucket, batch form of the streaming window (C9). */
  def q15(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("HOUR", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum("value"), 6).as("sv"))
      .orderBy("w", "event_type")

  /** Q16 — dedup via DISTINCT projection. */
  def q16(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select("user_id", "event_type")
      .distinct()
      .agg(count(lit(1)).as("c"))

  /** Q17 — text-corpus stats per language. */
  def q17(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum("n_chars").as("chars"),
        countDistinct(col("source")).as("srcs"))
      .orderBy("lang")

  /** Q18 — tokenize + explode + word count top-k. */
  def q18(s: SparkSession, dir: String): DataFrame =
    graft.queries.TextBackbone.unigrams(s, dir)
      .select("w")
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w"))
      .limit(20)

  /** Q21 — cube (C5 closes the grouping-sets family next to Q11's rollup). */
  def q21(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.orders(s, dir))
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("c"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6).as("s"))
      .orderBy(col("o_orderstatus").asc_nulls_last, col("o_orderpriority").asc_nulls_last)

  /** Q22 — remaining set ops: UNION (distinct) and EXCEPT. Users with a
    * high-value click or view who never made a high-value purchase.
    */
  def q22(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    def users(kind: String) =
      e.filter(col("event_type") === kind && col("value") > 90)
        .select(col("user_id"))
    users("click").union(users("view")).distinct()
      .except(users("purchase"))
      .orderBy("user_id")
  }

  /** Q23 — approximate distinct (HLL++). The raw sketch value can't be
    * hash-compared (DuckDB's HLL differs), so the query surfaces what IS
    * comparable: the exact count plus a boolean asserting the approximation
    * lands within HLL++'s expected error envelope (rsd 0.05 default ⇒ 3σ
    * bound 15%). The oracle produces `true` unconditionally — the hash match
    * therefore fails exactly when the sketch drifts out of its bound. The
    * spec additionally bounds the raw value (see [[q23raw]]).
    */
  def q23(s: SparkSession, dir: String): DataFrame =
    q23raw(s, dir)
      .select(
        col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users") * 0.15).as("approx_ok"))

  /** The raw approx+exact pair, for the error-bound spec. */
  def q23raw(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))

  /** Q24 — JSON field extraction from the `props` string column (the query-
    * level counterpart of the pipeline's from_json decode).
    */
  def q24(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .orderBy("event_id")
      .limit(100)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** Q25 — AS-OF join: each click event picks up the same user's most recent
    * prior purchase value. Spark has no asof-join operator; the distributed
    * formulation is the standard one — a single event-time-ordered window per
    * user with `last(..., ignoreNulls)` over the unioned stream: one shuffle
    * on user_id, no self-join, no per-row subquery. Tie order is pinned to
    * (ts, event_id) so the oracle (a correlated DuckDB subquery with the
    * identical tie rule) matches row-for-row.
    */
  def q25(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("pval", when(col("event_type") === "purchase", col("value")))
      .withColumn("last_purchase", round(last("pval", ignoreNulls = true).over(w), 6))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("last_purchase"))
      .orderBy("event_id")
  }

  /** Q26 — range (non-equi) join: events banded against a tiny value-range
    * dimension via `lo <= v < hi`. The dim is broadcast, so the non-equi
    * condition is evaluated stream-side (BroadcastNestedLoopJoin over a
    * 10-row build) — the right plan whenever the range table is small; a big
    * range table would instead be binned to an equi-key first.
    */
  def q26(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(10).select(
      col("id").as("band"),
      (col("id") * 10).cast("double").as("lo"),
      ((col("id") + 1) * 10).cast("double").as("hi"))
    Tables.events(s, dir)
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("c"), round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6).as("sv"))
      .orderBy("band")
  }

  /** Q27 — exact interpolated percentiles per group (`percentile` in Spark ≡
    * `quantile_cont` in DuckDB: same linear-interpolation definition, exact
    * and order-independent, so it hash-matches where sketch-based
    * `percentile_approx` could not).
    */
  def q27(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90"),
        max("n_chars").as("mx"))
      .orderBy("lang")

  /** Q28 — per-group top-k (the one place a row_number window is the right
    * plan: k rows per group survive, and the partial TakeOrdered per group
    * can't be expressed as a plain aggregate).
    */
  def q28(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(desc("n_chars"), asc("doc_id"))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .select("lang", "doc_id", "n_chars", "rn")
      .orderBy("lang", "rn")
  }

  /** Q29 — SLIDING event-time windows in batch form (C9's sliding variant,
    * the batch twin of `StreamOps.slidingCounts`): 2-minute windows sliding
    * every 1 minute, so each event lands in exactly two overlapping buckets.
    * Spark's `window()` generates the per-event window list and explodes it —
    * the same overlap-explode the DuckDB oracle spells out with a 2-row range
    * join. Value sums ride DECIMAL for order-independence (q05 note).
    */
  def q29(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "2 minutes", "1 minute").as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6).as("sv"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("event_type"), col("c"), col("sv"))
      .orderBy("ws", "event_type")

  /** Q30 — skew-mitigated join ([[graft.operators.SkewJoin.saltedInnerJoin]]):
    * half of all orders are remapped onto one hot custkey (the deliberate
    * skew), then joined to `customer` with the left side salted 8 ways, so
    * the hot key occupies 8 shuffle partitions instead of stalling one task.
    * The salt is invisible to results — the oracle is the plain join.
    */
  def q30(s: SparkSession, dir: String): DataFrame = {
    val hotOrders = Tables.orders(s, dir).select(
      expr("CASE WHEN o_orderkey % 2 = 0 THEN 1L ELSE o_custkey END").as("k"),
      col("o_totalprice"))
    graft.operators.SkewJoin
      .saltedInnerJoin(hotOrders, Tables.customer(s, dir), col("k"), col("c_custkey"))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n"),
        // monetary TOTAL → scale 2: the hot key's sum reaches 1.9e11 at
        // sf1, far past round(x,6)'s 1e9 stability limit — flagged by the
        // r9 magnitude lint on its first sf1 run
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("s"))
      .orderBy(desc("n"), asc("c_custkey"))
      .limit(10)
  }

  /** Q32 — SESSION windows in batch form (closing C9's window-kind family
    * next to tumbling q15 and sliding q29): per-user sessions split at
    * 5-minute inactivity gaps, session end = last event + gap. Spark's
    * `session_window` merges an event into the current session iff its
    * timestamp is strictly before the previous end (gap ≥ 5 min ⇒ new
    * session); the oracle reproduces exactly that rule as a classic
    * gaps-and-islands running sum.
    */
  def q32(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").as("ws"), col("w.end").as("we"), col("user_id"), col("c"))
      .orderBy("user_id", "ws")

  /** Q33 — sketch-based percentile next to q27's exact one (the q23
    * pattern: the sketch value itself isn't cross-engine comparable, so the
    * query surfaces the exact percentile PLUS a boolean asserting the
    * sketch landed inside its error envelope; the oracle emits `true`, so a
    * drifting sketch breaks the hash).
    */
  def q33(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
        expr("approx_percentile(n_chars, 0.5, 10000)").as("a50"))
      .select(col("lang"), col("p50"),
        (abs(col("a50") - col("p50")) <= greatest(col("p50") * 0.1, lit(1.0))).as("approx_ok"))
      .orderBy("lang")

  /** Q34 — MERGEABLE distinct-count sketches (the 100 TB cardinality
    * pattern: build per-group HLL sketches once, then union the sketches —
    * never the raw data — for rollups). Per-type estimates and the
    * sketch-union total are each checked against exact counts via the q23
    * envelope-boolean so the whole thing stays oracle-hashable.
    */
  def q34(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    def ok(est: Column, exact: Column): Column =
      (abs(est - exact) <= greatest(exact * 0.1, lit(5.0))).as("approx_ok")
    val sk = e.groupBy("event_type").agg(
      expr("hll_sketch_agg(user_id)").as("sk"),
      countDistinct(col("user_id")).as("exact_users"))
    val per = sk.select(col("event_type"), col("exact_users"),
      ok(expr("hll_sketch_estimate(sk)"), col("exact_users")))
    val all = sk.agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .crossJoin(e.agg(countDistinct(col("user_id")).as("exact_users")))
      .select(lit("ALL").as("event_type"), col("exact_users"),
        ok(col("est"), col("exact_users")))
    per.union(all).orderBy("event_type")
  }

  /** Q52 — sketch-based set INTERSECTION via inclusion-exclusion:
    * `|A∩B| ≈ est(A) + est(B) − est(A∪B)`, with the union estimated from
    * the two MERGED HLL sketches — the set operation q34's union rollup
    * can't express, and the way overlap questions ("users who both viewed
    * and purchased") are answered at 100 TB without re-scanning either side:
    * each arm's sketch is a fixed-size partial-aggregable summary, the
    * combine is sketch-level, and only the oracle-facing exact counts touch
    * the raw data. Error is additive across the three estimates, so the
    * envelope is proportional to |A|+|B| (spec-pinned tighter on real data).
    */
  def q52(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    def arm(t: String, tag: String) =
      e.filter(col("event_type") === t).agg(
        expr("hll_sketch_agg(user_id)").as(s"sk_$tag"),
        countDistinct(col("user_id")).as(s"exact_$tag"))
    val exactBoth = e.filter(col("event_type") === "view").select("user_id").distinct()
      .intersect(e.filter(col("event_type") === "purchase").select("user_id").distinct())
      .agg(count(lit(1)).as("exact_both"))
    arm("view", "a").crossJoin(arm("purchase", "b")).crossJoin(exactBoth)
      .select(
        col("exact_a").as("exact_view"),
        col("exact_b").as("exact_purchase"),
        col("exact_both"),
        (abs(expr("hll_sketch_estimate(sk_a)") + expr("hll_sketch_estimate(sk_b)")
          - expr("hll_sketch_estimate(hll_union(sk_a, sk_b))") - col("exact_both"))
          <= greatest((col("exact_a") + col("exact_b")) * 0.1, lit(5.0))).as("approx_ok"))
  }

  /** Q35 — pivot: one column per event type (values pinned so the output
    * schema is deterministic), count per (user, type), absent combos 0.
    */
  val pivotTypes = Seq("click", "error", "purchase", "signup", "view")
  def q35(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", pivotTypes)
      .agg(count(lit(1)))
      .select(col("user_id") +: pivotTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")

  /** Q36 — unpivot/melt: wide metric columns to (metric, value) rows — the
    * inverse reshaping of q35, `Dataset.unpivot` so Catalyst plans the
    * expansion (an Expand node, one pass, no self-union of scans).
    */
  def q36(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.lineitem(s, dir))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount")),
        "metric", "v")
      // v joins the sort so the order is total on the output — (orderkey,
      // linenumber) is NOT unique in the synthetic lineitem (r9 sf1 sweep)
      .orderBy("l_orderkey", "l_linenumber", "metric", "v")

  /** Q37 — explicit GROUPING SETS (the general form behind q11's rollup and
    * q21's cube): per-returnflag totals, per-linestatus totals, and the
    * grand total in ONE pass (a single Expand + aggregate — not three scans
    * unioned), with `grouping_id` disambiguating which set each row belongs
    * to (the same bit convention both engines share: leftmost column is the
    * most significant bit).
    */
  def q37(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.lineitem(s, dir))
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("c"),
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 6).as("s"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_last,
        col("l_linestatus").asc_nulls_last)

  /** Q38 — time-series RESAMPLE with gap filling (ClickHouse's `ORDER BY …
    * WITH FILL` shape): a dense hourly grid from the stream's min to max
    * hour, left-joined against per-hour counts, absent hours filled with 0.
    * The grid is generated with `sequence()` from ONE aggregated (min, max)
    * row and exploded — a few hundred rows — then broadcast against the
    * aggregated counts; the events table itself is scanned once.
    */
  def q38(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val hours = e.agg(
        date_trunc("HOUR", min(col("ts"))).as("lo"),
        date_trunc("HOUR", max(col("ts"))).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
    val counts = e.groupBy(date_trunc("HOUR", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    hours.join(counts, Seq("h"), "left")
      .select(col("h"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("h")
  }

  /** Q39 — FULL OUTER join (the one join type q07-q10 don't cover): nations
    * with high-balance customers vs nations with high-balance suppliers —
    * the thresholds are chosen so each side covers a different nation
    * subset, so genuine null rows survive on BOTH sides. Aggregates are
    * pushed below the join (the q09 move), so the outer join sees one row
    * per nation per side.
    */
  def q39(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_acctbal") > 9900)
      .groupBy("c_nationkey").agg(count(lit(1)).as("customers"))
    val su = Tables.supplier(s, dir).filter(col("s_acctbal") > 9000)
      .groupBy("s_nationkey").agg(count(lit(1)).as("suppliers"))
    c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("customers"), lit(0L)).as("customers"),
        coalesce(col("suppliers"), lit(0L)).as("suppliers"))
      .orderBy("nationkey")
  }

  /** Q41 — distribution analytics windows (the C6 family's remaining
    * members): `ntile` quartiles, `cume_dist`, and `percent_rank` per order
    * within its status partition. All three are rank-family window functions
    * — one sort per partition, no frame buffering — and the unique
    * (o_totalprice, o_orderkey) order key makes every value deterministic
    * across engines.
    */
  def q41(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(cume_dist().over(w), 6).as("cd"),
        round(percent_rank().over(w), 6).as("pr"))
      .orderBy("o_orderkey")
  }

  /** Q42 — sequential event FUNNEL over the events stream shape: per user,
    * first `view`, first `click` strictly after it, first `purchase`
    * strictly after that. Each stage is a filtered partial-aggregable
    * groupBy(min) joined on user_id — no window over the event history, no
    * per-row subqueries — so the plan is three thin aggregates over one
    * logical scan, the shape that survives a 100 TB event log.
    */
  def q42(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsBackbone.byUser(s, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"))
      .orderBy("user_id")
  }

  /** Q43 — time-interval RANGE window frame (the C6 family's value-based
    * frame, complementing q13's row-count frame): per event, the count and
    * value-sum of the same user's events in the PRECEDING HOUR. The frame is
    * defined over microsecond epoch values (`rangeBetween` needs a numeric
    * order key), so frame membership is an exact integer comparison in both
    * engines — identical to the oracle's `RANGE INTERVAL 1 HOUR PRECEDING`
    * over the timestamp. One shuffle on user_id, per-partition sort, frames
    * never buffer more than an hour of one user's events.
    *
    * The DECLARED result caps at the 500 busiest frames of the total
    * (cnt_1h DESC, event_id) order — the q51/q64 precedent: the window
    * computes over every event regardless, but an uncapped per-event
    * declaration made this the bench's one unstable query (r11 driver
    * `unstable` flag): its timing measured 1M-row noop-writer output
    * variance, not the operator.
    */
  def q43(s: SparkSession, dir: String): DataFrame = {
    // the RANGE frame needs the numeric `us` as its order key, so only the
    // exchange elides off the user buckets (the sort on the derived column
    // stays — rangeBetween cannot ride the raw-ts storage order)
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0)
    EventsBackbone.byUser(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .select(col("event_id"),
        count(lit(1)).over(w).as("cnt_1h"),
        round(sum("value").over(w), 6).as("sv_1h"))
      .orderBy(desc("cnt_1h"), asc("event_id"))
      .limit(500)
  }

  /** Q44 — statistical profile: per-flag correlation, sample covariance and
    * standard deviation of (l_quantity, l_extendedprice). Instead of the
    * built-in `corr`/`covar_samp` (whose double co-moment accumulation is
    * order-dependent and engine-specific), the five raw moments Σx Σy Σxy
    * Σx² Σy² ride EXACT DECIMAL sums (the q05 order-independence move) and
    * the closed-form statistics are computed from them in double at the end
    * — one partial-aggregable pass, bit-identical across engines, and the
    * same single-scan shape `corr` itself plans.
    */
  def q44(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity"); val y = col("l_extendedprice")
    // r16: five exact-decimal casts + sums per row run inside the scan
    // stage, and the input is one unsplittable row group — spread it
    // (Tables.spread) so the moment pass uses every core
    Tables.spread(Tables.lineitem(s, dir))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x.cast("decimal(28,6)")).as("sx"),
        sum(y.cast("decimal(28,6)")).as("sy"),
        sum((x * y).cast("decimal(38,6)")).as("sxy"),
        sum((x * x).cast("decimal(38,6)")).as("sxx"),
        sum((y * y).cast("decimal(38,6)")).as("syy"))
      .select(col("l_returnflag"), col("n"), {
        // The co-moment NUMERATORS n·Σxy − Σx·Σy etc. stay in exact DECIMAL
        // (one deterministic HALF_UP rounding to scale 6 inside the Σx·Σy
        // product — mirrored in the oracle by an explicit cast), and each is
        // cast to double exactly ONCE; everything after is IEEE-deterministic
        // div/sqrt shared verbatim with the oracle. The r5 sf1 rehearsal
        // caught the old shape (sums→double, then 3+ engine-local double
        // ops) rounding cov to a DIFFERENT 6th decimal than DuckDB on a
        // boundary-straddling value; with a single cast per exact numerator
        // the cross-engine window shrinks from ~1e-7 to the cast's last
        // ulp (~1e-14 relative). Precision headroom: n·Σy² at 1e11 rows per
        // flag is ~2e31 — still inside DECIMAL(38,6).
        val ndec = col("n").cast("decimal(20,0)")
        val nd = col("n").cast("double")
        val mxy = (ndec * col("sxy") - col("sx") * col("sy")).cast("double")
        val mxx = (ndec * col("sxx") - col("sx") * col("sx")).cast("double")
        val myy = (ndec * col("syy") - col("sy") * col("sy")).cast("double")
        val den = nd * (nd - 1)
        struct(
          round(mxy / den, 6).as("cov"),
          round(mxy / sqrt(mxx * myy), 6).as("corr"),
          round(sqrt(mxx / den), 6).as("sd_qty")).as("m")
      })
      .select(col("l_returnflag"), col("n"),
        col("m.cov").as("cov"), col("m.corr").as("corr"),
        col("m.sd_qty").as("sd_qty"))
      .orderBy("l_returnflag")
  }

  /** Q62 — grouped OLS trend fit (C79): per event type, the least-squares
    * line of `value` against second-of-day, plus r² — the "does activity
    * drift through the day" diagnostic, and the single-pass closed-form
    * regression every profiling suite ships. Same execution contract as
    * [[q44]]: one scan, five exact-DECIMAL moment sums shuffled as ONE row
    * per group, each co-moment numerator cast to double exactly once, then
    * IEEE div/sqrt shared verbatim with the oracle. x is integer
    * second-of-day (`div`, not a double divide), so Σx² per 1e11-row group
    * stays ~7.5e31 — inside DECIMAL(38,6) like q44's headroom note.
    */
  def q62(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.spread(Tables.events(s, dir))
      .withColumn("x", expr("(unix_micros(ts) % 86400000000L) div 1000000L"))
    val x = col("x"); val y = col("value")
    ev.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(x.cast("decimal(28,6)")).as("sx"),
        sum(y.cast("decimal(28,6)")).as("sy"),
        sum((x * y).cast("decimal(38,6)")).as("sxy"),
        sum((x * x).cast("decimal(38,6)")).as("sxx"),
        sum((y * y).cast("decimal(38,6)")).as("syy"))
      .select(col("event_type"), col("n"), {
        val ndec = col("n").cast("decimal(20,0)")
        val nd = col("n").cast("double")
        val mxy = (ndec * col("sxy") - col("sx") * col("sy")).cast("double")
        val mxx = (ndec * col("sxx") - col("sx") * col("sx")).cast("double")
        val myy = (ndec * col("syy") - col("sy") * col("sy")).cast("double")
        val slope = mxy / mxx
        struct(
          round(slope, 6).as("slope"),
          round((col("sy").cast("double") - slope * col("sx").cast("double")) / nd, 6)
            .as("intercept"),
          round((mxy * mxy) / (mxx * myy), 6).as("r2")).as("m")
      })
      .select(col("event_type"), col("n"), col("m.slope").as("slope"),
        col("m.intercept").as("intercept"), col("m.r2").as("r2"))
      .orderBy("event_type")
  }

  /** Q45 — fixed-width histogram (20 bins) over l_extendedprice: the (min,
    * max) envelope is ONE aggregated row broadcast back over the scan, bin
    * assignment is pure row-local double arithmetic (identical IEEE ops in
    * both engines — min/max of doubles is order-independent, so the edges
    * are exact), and the bin counts are a partial-aggregable groupBy. Two
    * scans total, no shuffle wider than 20 rows.
    */
  def q45(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val mm = li.agg(min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
    val width = (col("hi") - col("lo")) / 20.0
    li.crossJoin(broadcast(mm))
      .select(
        least(floor((col("l_extendedprice") - col("lo")) / width), lit(19.0)).cast("long").as("bin"),
        (col("lo") + least(floor((col("l_extendedprice") - col("lo")) / width), lit(19.0)) * width).as("edge"))
      .groupBy("bin")
      .agg(round(min("edge"), 6).as("lo_edge"), count(lit(1)).as("c"))
      .orderBy("bin")
  }

  /** Q46 — IQR outlier detection per event type: the Tukey fence
    * q3 + 1.5·(q3 − q1) from exact interpolated percentiles (q27's
    * aggregate), broadcast back over the events scan, then a
    * partial-aggregable count/max of the rows above it. The percentile
    * aggregate sees each group once; the fence table is a handful of rows —
    * at 100 TB the second pass is a plain filtered scan, never a sort.
    */
  def q46(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val fences = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.25)").as("q1"),
           expr("percentile(value, 0.75)").as("q3"))
      .select(col("event_type"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("fence"))
    ev.join(broadcast(fences), "event_type")
      .filter(col("value") > col("fence"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("outliers"),
        round(min("fence"), 6).as("fence6"),
        round(max("value"), 6).as("worst"))
      .orderBy("event_type")
  }

  /** Q47 — Z-order layout clustering (the multi-dimensional pruning layout,
    * [[graft.operators.Layout]]): Morton-interleave (l_suppkey, l_partkey)
    * and profile the curve — per coarse z-cell, the row count and the exact
    * z envelope. The interleave is a pure bitwise fold inside codegen; the
    * cell profile is one partial-aggregable groupBy. The staged form
    * ([[Layout.zorderBy]], spec-pinned) is what a 100 TB table would write:
    * range-partitioned + sorted by `zval`, so a predicate on EITHER key
    * prunes row groups via min/max stats.
    */
  def q47(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(Layout.zvalue(col("l_suppkey"), col("l_partkey")).as("z"))
      .groupBy(shiftright(col("z"), 8).as("cell"))
      .agg(count(lit(1)).as("c"), min("z").as("zlo"), max("z").as("zhi"))
      .orderBy("cell")

  /** Q48 — merge/upsert by key (the lakehouse MERGE INTO primitive, C44):
    * a deterministic update batch derived from `orders` (keys ≡ 0 mod 10
    * get a repriced 'U' row; keys ≡ 0 mod 97 also arrive as brand-new 'N'
    * keys) is merged into the base — updates replace, inserts append,
    * everything else is kept. One full-outer equi-join on the key carries
    * the whole operation: one shuffle of each side, no row ever read twice.
    * At 100 TB the base side would be a bucketed staging table
    * ([[Bucketing.writeBucketed]] on the merge key), making every
    * incremental merge exchange-free on the big side — the q31 pattern.
    * Output is the per-status row count and DECIMAL-summed total (order-
    * independent, so the hash comparison is exact), which fingerprints
    * every kept/updated/inserted row.
    */
  def q48(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("b_st"),
        col("o_totalprice").as("b_tp"))
    val updates = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("k"), lit("U").as("u_st"),
        (col("o_totalprice") * 1.1).as("u_tp"))
      .union(
        Tables.orders(s, dir)
          .filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + 100000000L).as("k"), lit("N").as("u_st"),
            col("o_totalprice").as("u_tp")))
    base.join(updates, Seq("k"), "full_outer")
      .select(
        coalesce(col("u_st"), col("b_st")).as("status"),
        coalesce(col("u_tp"), col("b_tp")).as("tp"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        // monetary TOTAL: scale 2 (SCALE_r8 magnitude rule — already past
        // 1e9 at sf0.01; the round-9 oracle_check lint enforces the class)
        round(sum(col("tp").cast("decimal(28,6)")).cast("double"), 2).as("total"))
      .orderBy("status")
  }

  /** Columns profiled by [[q49]] — a val so the oracle renders from the
    * same list.
    */
  val profileCols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")

  /** Q49 — per-column data profiling (C49): row count, null count, exact
    * distinct count, min and max for each measure column of `lineitem`, one
    * output row per column — the data-quality summary a pipeline owner reads
    * before trusting a new snapshot. A single `unpivot` (one Expand over one
    * scan, the q36 shape) turns columns into groups, so one aggregation
    * profiles them all; counts and min/max partial-aggregate map-side, and
    * the distinct count shuffles only distinct (column, value) pairs. At
    * 100 TB: one scan, shuffle bounded by the distinct value space, never
    * the row count.
    */
  def q49(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.lineitem(s, dir))
      .unpivot(Array.empty, profileCols.map(col).toArray, "col_name", "value")
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("value").isNull, 1)).as("nulls"),
        count_distinct(col("value")).as("nd"),
        round(min("value"), 6).as("mn"),
        round(max("value"), 6).as("mx"))
      .orderBy("col_name")

  /** Q50 — cohort retention over the events stream: users cohorted by their
    * FIRST event day, then distinct active users per (cohort, week offset) —
    * the canonical product-analytics rollup. Two shuffles, both on `user_id`
    * (first-touch min, then the cohort join back), then a partial-aggregable
    * distinct count keyed by (cohort, offset) — no window over per-user
    * event history, so a hot user costs one min() cell, not a sorted
    * partition. At 100 TB the first-touch frame is the small side (one row
    * per user) and the join stays an equi-join on the natural key.
    */
  def q50(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsBackbone.byUser(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = ev.groupBy("user_id").agg(min("d").as("cohort"))
    ev.join(first, "user_id")
      .select(col("cohort"),
        expr("CAST(datediff(d, cohort) AS LONG) div 7").cast("int").as("week_offset"),
        col("user_id"))
      .groupBy("cohort", "week_offset")
      .agg(countDistinct("user_id").as("users"))
      .orderBy("cohort", "week_offset")
  }

  /** Session gap for [[q51]] (seconds). */
  val sessionGapSec = 1800L

  /** Q51 — batch sessionization by the lag + running-sum idiom: a session
    * break is a >[[sessionGapSec]] gap since the user's previous event; the
    * running sum of breaks numbers each user's sessions; one aggregate row
    * per session. The complement of q32's `session_window` (the built-in
    * operator): this is the manual formulation every analytics engine user
    * writes, and it exercises lag + conditional + framed-sum in one window
    * pass. Both windows partition by `user_id` — per-user shuffle
    * partitions, no global sort; at 100 TB a hot user costs one sorted
    * partition of their OWN events only.
    *
    * The DECLARED result caps at the first 500 rows of the total
    * (user_id, session) order (the q88 r8-ADVICE precedent applied to its
    * sibling): one session row per user-session is unbounded in the
    * corpus, and verify/bench should hash a bounded frame, not collect
    * 9.5M rows at the 100× probe (r9 "what's wrong" #3). Downstream
    * aggregations ([[q89]], [[q95]]'s construction) use the UNCAPPED
    * [[sessionize]].
    */
  def q51(s: SparkSession, dir: String): DataFrame =
    sessionize(s, dir).orderBy("user_id", "session").limit(500)

  /** The uncapped per-session frame behind [[q51]] (and [[q89]]). */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts")
    EventsBackbone.byUser(s, dir).select(col("user_id"), col("ts"))
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull ||
          (col("ts").cast("long") - col("prev").cast("long")) > sessionGapSec, 1)
          .otherwise(0))
      .withColumn("session", sum("brk").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session")
      .agg(count(lit(1)).as("events"), min("ts").as("start_ts"), max("ts").as("end_ts"))
  }

  /** Q53 — growth accounting: per day, how many users touched the product
    * for the FIRST time, and the cumulative user base — the other half of
    * [[q50]]'s retention rollup. First-touch is a partial-aggregable
    * `groupBy(user_id).min(day)`; the daily rollup shuffles one row per
    * user; the cumulative sum windows over the DAY axis only (≤ a few
    * thousand rows at any scale — days, not users), so the single-partition
    * window is bounded by the calendar, never the corpus.
    */
  def q53(s: SparkSession, dir: String): DataFrame = {
    val first = EventsBackbone.byUser(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id").agg(min("d").as("day"))
    val w = BoundedWindow.ordered("calendar", col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    first.groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum("new_users").over(w))
      .orderBy("day")
  }

  /** Q54 — bloom-pruned selective-dim join (C64,
    * [[graft.operators.BloomPrune]]): parts with `p_size <= 3` keep ~10% of
    * keys; a fixed-size bloom over the surviving partkeys prefilters the
    * lineitem SCAN with a codegen'd `might_contain` probe, so ~90% of fact
    * rows never enter the join's exchange — semi-join reduction, the
    * sideways-information-passing move that matters when the fact side is
    * 100 TB. False positives only add rows the exact equi-join re-drops,
    * so the oracle is the PLAIN join SQL. Revenue rides a DECIMAL sum
    * (order-independent) like q08.
    */
  def q54(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.part(s, dir).filter(col("p_size") <= 3)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val fact = Tables.lineitem(s, dir)
      .select("l_partkey", "l_extendedprice", "l_discount")
    graft.operators.BloomPrune.bloomPrunedJoin(fact, dim, "l_partkey",
        expectedItems = dim.count())
      .groupBy("p_brand")
      .agg(
        // monetary TOTAL: scale 2 (SCALE_r8 magnitude rule; crosses 1e9
        // between sf0.1 and sf1 — the lint projection catches it)
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double"), 2).as("revenue"),
        count(lit(1)).as("items"))
      .orderBy("p_brand")
  }

  /** Q55 — quantile discretization (equal-FREQUENCY binning, the
    * QuantileDiscretizer/feature-binning shape; q45's fixed-width histogram
    * is the equal-WIDTH complement): 4 exact interpolated quintile cuts
    * from one aggregate row, broadcast back over the scan, bin assignment
    * row-local IEEE comparisons, per-bin stats partial-aggregable — two
    * scans total, shuffle never wider than the bin count. The per-bin
    * counts also audit the discretizer itself: on continuous data every
    * bin holds ~20%.
    */
  def q55(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"))
    // distributed selection, not the percentile aggregate: on sf0.1's 600k
    // mostly-distinct doubles the counts-map aggregate costs ~7 s and grows
    // with distinct values; selection is one narrow shuffle + per-partition
    // sorts with O(parts) driver traffic (Quantiles scaladoc has numbers)
    val cuts = graft.operators.Quantiles.exactQuantiles(
      li, "v", Seq(0.2, 0.4, 0.6, 0.8))
    li.select(
        when(col("v") < cuts(0), 0).when(col("v") < cuts(1), 1)
          .when(col("v") < cuts(2), 2).when(col("v") < cuts(3), 3)
          .otherwise(4).as("bin"),
        col("v"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(min("v"), 6).as("lo"),
        round(max("v"), 6).as("hi"))
      .orderBy("bin")
  }

  /** Q56 — join-skew diagnostic: the per-key count distribution of a join/
    * aggregation key (mean, p50/p90/p99, max, max/mean skew ratio) — the
    * number a pipeline owner reads BEFORE deciding whether q30's salted
    * join or AQE skew splitting is needed, and the complement of
    * `text_heavy` (which names the hot keys; this sizes the imbalance).
    * Everything partial-aggregates: the key rollup shuffles one row per
    * key, the profile is a single aggregate over that — no window, no sort.
    */
  def q56(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(
        count(lit(1)).as("n_keys"),
        round(avg("c"), 6).as("mean_c"),
        round(expr("percentile(c, 0.5)"), 6).as("p50"),
        round(expr("percentile(c, 0.9)"), 6).as("p90"),
        round(expr("percentile(c, 0.99)"), 6).as("p99"),
        max("c").as("max_c"))
      .select(col("n_keys"), col("mean_c"), col("p50"), col("p90"), col("p99"),
        col("max_c"), round(col("max_c") / col("mean_c"), 6).as("skew"))

  /** Q57 — bucketed table checksum: the anti-entropy primitive for
    * replica/migration verification (does this table equal that one,
    * without moving either): rows hash to a 64-bit digest, digests combine
    * per bucket with XOR — order-independent and overflow-free, so the
    * aggregation is partial-aggregable and ANY permutation/partitioning of
    * the same rows produces the same 16 (bucket, cnt, checksum) rows; a
    * divergent replica is then bisected to a bucket, not re-scanned whole.
    * The digest covers the integer/date/string columns (double columns are
    * excluded deliberately: their STRING rendering is engine-specific, and
    * checksum inputs must be format-stable). md5 is the digest here because
    * the oracle must reproduce it; a production deployment would swap in
    * `xxhash64` (same plan shape, ~10× cheaper per row).
    */
  def q57(s: SparkSession, dir: String): DataFrame = {
    val rowStr = concat_ws("|",
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate").cast("string"))
    Tables.spread(Tables.lineitem(s, dir))
      .select(
        pmod(col("l_orderkey"), lit(16)).as("bucket"),
        conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), bit_xor(col("h")).as("checksum"))
      .orderBy("bucket")
  }

  /** Q58 — the TPC-H Q3 "shipping priority" shape: segment-filtered
    * customers ⋈ date-bounded orders ⋈ date-bounded lineitems, revenue per
    * open order, top-10. The canonical mixed-join benchmark query: the
    * selective customer side broadcasts after its filter, the orders ⋈
    * lineitem leg shuffles on the order key, both date predicates push to
    * the parquet scans, and the final ranking is TakeOrdered — the plan a
    * warehouse engine is judged on. Revenue rides a DECIMAL sum (q08/q54
    * discipline).
    */
  def q58(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-07-01"
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double"), 6).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
      .limit(10)
  }

  /** Q59 — backward as-of join (C75, [[graft.operators.TemporalJoin
    * .asofBackward]]): each purchase event picks up the user's latest click
    * at-or-before it (the trades⋈quotes shape every time-series store
    * special-cases). The union-then-window formulation joins WITHOUT a join:
    * one shuffle by `user_id`, payloads carried forward by a per-user sorted
    * window — a pure inequality `l.join(r, cond)` would plan a
    * broadcast-nested-loop over |purchases|×|clicks|. Oracle: DuckDB's
    * native `ASOF LEFT JOIN` — an independent implementation of the same
    * semantic. Deterministic because (user_id, ts) is unique in the corpus.
    */
  def q59(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value").as("click_value"))
    TemporalJoin.asofBackward(purchases, clicks, Seq("user_id"), "ts",
      Seq("click_value"))
      .select(col("event_id"), col("user_id"), col("value"), col("click_value"),
        (col("ts").cast("long") - col("asof_ts").cast("long")).as("lag_sec"))
      .orderBy("event_id")
  }

  /** `q109_asof_nearest` — the NEAREST as-of join (C75 is backward-only):
    * each purchase picks the same user's click minimizing |Δt| in EITHER
    * direction, ties at equal distance preferring the at-or-before click.
    * The nearest-reading enrichment (closest telemetry sample, closest
    * quote) a backward-only as-of silently gets wrong whenever the nearer
    * row is one tick ahead. Join-free ([[graft.operators.TemporalJoin
    * .asofNearest]]: one union, one per-key sort, two window passes);
    * delta exposed as exact signed integer microseconds.
    */
  def q109(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value").as("click_value"))
    TemporalJoin.asofNearest(purchases, clicks, Seq("user_id"), "ts",
      Seq("click_value"))
      .select(col("event_id"), col("user_id"), col("value"), col("click_value"),
        (unix_micros(col("asof_ts")) - unix_micros(col("ts"))).as("delta_us"))
      .orderBy("event_id")
  }

  /** How many top days ride each type's LISTAGG report line. */
  val listaggTopDays = 5

  /** `q110_listagg` — ordered-set aggregation (the LISTAGG/STRING_AGG
    * surface): per event type, its [[listaggTopDays]] busiest days rendered
    * as one deterministic `day:count` CSV line — the "report cell" shape
    * (top sellers per region, top errors per service) BI layers ask of an
    * engine constantly. Engine-exact because the aggregation carries a
    * TOTAL order (count DESC, day ASC) into the string: Spark sorts
    * (-count, day) structs inside the aggregate and joins the slice;
    * DuckDB string_aggs over the row_number-bounded top-k with the same
    * ORDER BY. Counts and dates render identically in both engines, so
    * the strings hash-match. Partial-aggregable daily rollup off the C137
    * byType scan; the per-type collect is bounded by the calendar.
    */
  def q110(s: SparkSession, dir: String): DataFrame = {
    val daily = EventsBackbone.byType(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily
      .groupBy("event_type")
      .agg(count(lit(1)).as("days"),
        slice(sort_array(collect_list(struct((-col("cnt")).as("nc"),
          col("day"), col("cnt")))), 1, listaggTopDays).as("top"))
      .select(col("event_type"), col("days"),
        array_join(transform(col("top"),
          t => concat(t.getField("day").cast("string"), lit(":"),
            t.getField("cnt").cast("string"))), ",").as("top_days"))
      .orderBy("event_type")
  }

  /** Window for [[q60]]: follows within 30 minutes. */
  val rangeJoinWindowSec = 1800L

  /** Q60 — bounded-interval range join (C76, [[graft.operators.TemporalJoin
    * .rangeJoinBucketed]]): per error event, how many clicks the same user
    * made in the following [[rangeJoinWindowSec]] — the "did the error stop
    * them" diagnostic. Timestamps compare as exact integer microseconds.
    * The bucketed candidate join keeps the plan a hash join with ≤2×
    * fan-out on the error side; errors with zero follow-ups are restored by
    * a left join against the (error-keyed, error-sized) count frame. The
    * oracle is DuckDB's plain inequality join — quadratic there, which is
    * the point: the bucketed plan computes the same pairs without one.
    */
  def q60(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val errs = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "us")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cus"))
    val counts = TemporalJoin.rangeJoinBucketed(errs, clicks, Seq("user_id"),
      "us", "cus", 0L, rangeJoinWindowSec * 1000000L)
      .groupBy("event_id").agg(count(lit(1)).as("follows"))
    errs.select("event_id", "user_id").join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("follows"), lit(0L)).as("follows"))
      .orderBy("event_id")
  }

  /** Bucket width for [[q61]]: 10 minutes, near the typical view-interval
    * length so per-row explode fan-out stays ≲ 5.
    */
  val overlapBucketUs = 600L * 1000000L

  /** Q61 — interval-overlap join (C77, [[graft.operators.TemporalJoin
    * .intervalOverlapBucketed]]): per view "session" (open for value×10
    * seconds), how many same-user click intervals (open for value seconds)
    * overlap it — the concurrent-activity shape (sessions × campaigns,
    * playback × ad slots). Interval lengths derive from `value` via
    * `floor()` so both engines truncate identically. The oracle is the
    * plain double-inequality overlap join — quadratic per user in DuckDB,
    * while the Spark plan stays a hash equi-join on (user, bucket) with
    * each true pair claimed by exactly one bucket.
    */
  def q61(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("us").as("vs"),
        (col("us") + floor(col("value")) * 10000000L).as("ve"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cs"),
        (col("us") + floor(col("value")) * 1000000L).as("ce"))
    val counts = TemporalJoin.intervalOverlapBucketed(views, clicks,
      Seq("user_id"), "vs", "ve", "cs", "ce", overlapBucketUs)
      .groupBy("event_id").agg(count(lit(1)).as("overlaps"))
    views.select("event_id", "user_id").join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("overlaps"), lit(0L)).as("overlaps"))
      .orderBy("event_id")
  }

  /** Q63 — SCD2 history collapse (warehouse dimension maintenance): each
    * customer's order-status timeline is collapsed into validity ranges —
    * consecutive orders with the same status become one row with
    * `[valid_from, valid_to)` and an order count; the open run carries a null
    * `valid_to`. Classic gaps-and-islands via two windows: a lag-change flag,
    * a running sum to number the runs, then a per-run rollup and a lead for
    * the range end.
    *
    * Scale: both windows and the rollup hash-partition on `o_custkey`, so the
    * whole query is ONE shuffle of (custkey, date, status) — no joins, no
    * state beyond a partition sort. Skewed customers are bounded by their own
    * order counts; AQE handles stragglers.
    */
  def q63(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderstatus"))
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val runs = o
      .withColumn("chg",
        when(lag("o_orderstatus", 1).over(w).isNull ||
          lag("o_orderstatus", 1).over(w) =!= col("o_orderstatus"), 1)
          .otherwise(0))
      .withColumn("run",
        sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val hist = runs.groupBy("o_custkey", "run")
      .agg(min("o_orderstatus").as("status"), // constant within a run
        min("o_orderdate").as("valid_from"),
        count(lit(1)).as("n_orders"))
    val w2 = Window.partitionBy("o_custkey").orderBy("run")
    hist
      .withColumn("valid_to", lead("valid_from", 1).over(w2))
      // `run` doubles as the SCD2 version number — and makes the final sort
      // total (two runs CAN share valid_from when a customer places
      // different-status orders on one date; FIXTURES §3 requires a total
      // ORDER BY for the positional oracle compare)
      .select(col("o_custkey"), col("run").as("version"), col("status"),
        col("valid_from"), col("valid_to"), col("n_orders"))
      .orderBy("o_custkey", "version")
  }

  /** The shared banded rolling-stats scaffold q64 and q88 both read: ONE
    * [[BandedWindow.trailingRows]] pass over events computes every
    * trailing-20 statistic either query needs (count, 6-rounded mean/σ,
    * and the sorted frame array the median selects from), cached per
    * (session, dir) via [[BackboneRegistry]] like the text/dedup backbones.
    *
    * Why shared: the two queries band the SAME table over the SAME
    * `(event_type, day)` keys with the SAME depth-20 frame — running the
    * scaffold twice paid the banded construction's two full-width shuffles
    * twice for byte-identical exchange work (r10 verdict item 5). Adding a
    * window aggregate to an existing WindowExec is free at plan level
    * (same partitioning, same sort, one shared frame walk), so the combined
    * cost is one scaffold plus two cheap projections. At 100 TB this is a
    * staged derived table: the trailing-stat family fans out of one
    * materialization instead of re-walking the event log per metric.
    */
  private[queries] def rollingScaffold(s: SparkSession, dir: String): DataFrame =
    BackboneRegistry.getOrBuild(s, s"roll:stats:$dir") {
      BandedWindow.trailingRows(
        Tables.events(s, dir)
          .select(col("event_type"), col("event_id"), col("ts"), col("value")),
        key = "event_type", ts = "ts", id = "event_id", n = 20,
        aggs = Seq(
          "roll_n" -> (w => count("value").over(w)),
          // the anomaly predicate compares 6-ROUNDED quantities: Spark
          // recomputes each bounded frame in row order while DuckDB's window
          // aggregation merges segment-tree partials, so the raw doubles can
          // differ in the last ulps — a raw >3sigma compare would be an
          // engine-dependent boundary (the FIXTURES round-before-compare rule)
          "roll_avg" -> (w => round(avg("value").over(w), 6)),
          "roll_sd" -> (w => round(stddev_samp("value").over(w), 6)),
          "_frame" -> FrameQuantile.sortedFrame(col("value"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Q64 — rolling-window anomaly detection over the event stream: per
    * event_type ordered by time, each value is scored against the mean and
    * stddev of its 20 PRECEDING observations (self excluded, so an anomaly
    * cannot mask itself), and rows more than 3 sigma out are reported with
    * their local statistics.
    *
    * Scale: the trailing frame is computed BANDED
    * ([[BandedWindow.trailingRows]] — two-level `(event_type, day)` keys
    * with exact ordinal carry-in), so the ordered walk parallelizes over
    * |types| × |days| tasks instead of serializing on the 5-value type key
    * (the r9 verdict's named scale-killer: 5 tasks for the whole table at
    * 100 TB, however wide the cluster). Results are bit-identical to the
    * flat per-type window — BandedWindowSpec pins parity, including across
    * sparse/empty bands. The frame statistics come from the SHARED
    * [[rollingScaffold]] (one banded pass serves q64 and q88).
    *
    * The DECLARED result caps at the first 500 rows of the total
    * (type, id) order — an anomaly REPORT is legitimately
    * corpus-proportional (99,982 rows at the 10M-event probe), but
    * verify/bench should hash a bounded frame (the q51/q88 precedent);
    * the window computes over everything regardless.
    */
  def q64(s: SparkSession, dir: String): DataFrame =
    rollingScaffold(s, dir)
      .where(col("roll_n") >= 10 && col("roll_sd") > 0 &&
        round(abs(col("value") - col("roll_avg")) - col("roll_sd") * 3, 6) > 0)
      .select(col("event_type"), col("event_id"),
        round(col("value"), 6).as("value"),
        col("roll_avg"), col("roll_sd"))
      .orderBy("event_type", "event_id")
      .limit(500)

  /** Q65 — time-partition completeness audit (pipeline ops): per event_type,
    * how many hourly partitions exist between its first and last hour, and
    * how many are MISSING — the "did ingestion drop an hour" check every
    * scheduled pipeline needs before publishing a day's data.
    *
    * Scale: expected-hour count is closed-form from min/max (no calendar
    * explode — a year of hours at 100 TB would otherwise materialize 8760
    * rows per type just to count gaps), so the whole audit is one partial
    * aggregate: (min, max, distinct-hours, count) per event_type.
    */
  def q65(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), date_trunc("HOUR", col("ts")).as("h"))
      .groupBy("event_type")
      .agg(min("h").as("first_hour"), max("h").as("last_hour"),
        countDistinct(col("h")).as("actual_hours"),
        count(lit(1)).as("n_events"))
      .withColumn("expected_hours",
        expr("(unix_seconds(last_hour) - unix_seconds(first_hour)) div 3600") + 1)
      .withColumn("missing_hours", col("expected_hours") - col("actual_hours"))
      .select(col("event_type"), col("first_hour"), col("last_hour"),
        col("n_events"), col("expected_hours"), col("actual_hours"),
        col("missing_hours"))
      .orderBy("event_type")

  /** Q66 — event-transition matrix (path analysis): for each user's
    * time-ordered event stream, count adjacent (from_type → to_type)
    * transitions — the Markov-chain reading behind "what do users do after
    * an error". One window keyed by user (single shuffle) + a partial-
    * aggregable pair count; no self-join against the stream.
    */
  def q66(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    EventsBackbone.byUser(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag("event_type", 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("transitions"))
      .orderBy("from_type", "to_type")
  }

  /** Q67 — snapshot diff (release audit): compare two corpus versions by
    * keyed content digest and classify every key as added / removed /
    * changed / unchanged — the "what did this rebuild actually touch" gate
    * before publishing a dataset version. Version 2 is derived
    * deterministically here (drop `id%97=0`, mutate `id%101=0`, add clones
    * at `id+10^7` for `id%103=0`) so both engines diff identical snapshots.
    *
    * Scale shape: digests are computed in the scan stage, the full-outer
    * join shuffles once on the key, and the classification rolls up to one
    * partial-aggregated row per status — the diff of two 100 TB snapshots
    * moves digests, never documents.
    */
  def q67(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val v1 = docs.select(col("doc_id"), md5(col("text")).as("d1"))
    val v2 = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 101 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("d2"))
      .union(docs.filter(col("doc_id") % 103 === 0)
        // The clone id rides the guard: any corpus whose ids reach the offset
        // fails loudly in the scan stage instead of silently double-counting
        // colliding keys in the full-outer (ADVICE r7). The guard lives on
        // the value column itself so column pruning can never drop it.
        .select(
          when(col("doc_id") < 10000000L, col("doc_id") + 10000000L)
            .otherwise(raise_error(lit(
              "q67: doc_id >= clone offset 1e7 - raise the offset"))).as("doc_id"),
          md5(col("text")).as("d2")))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("d1").isNull, "added")
          .when(col("d2").isNull, "removed")
          .when(col("d1") =!= col("d2"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), min("doc_id").as("first_key"),
        max("doc_id").as("last_key"))
      .orderBy("status")
  }

  /** Q68 — merged-interval coverage (the "total watch time" shape): each
    * view event opens an interval (`value`×10 s, the q61 convention); per
    * user, overlapping intervals are merged gaps-and-islands style and the
    * query reports raw vs merged interval counts and total covered
    * microseconds — the union-of-intervals primitive behind session
    * coverage, SLA uptime, and span-overlap audits.
    *
    * Scale: both windows and both rollups hash-partition on `user_id`, so
    * the whole query is ONE shuffle of (user, start, end); island detection
    * is a running max + running sum per partition cursor — no join, no
    * explode. Tie rows (identical start AND end) cannot perturb island
    * boundaries, so the per-user rollup is order-deterministic.
    */
  def q68(s: SparkSession, dir: String): DataFrame = {
    val iv = EventsBackbone.byUser(s, dir)
      .filter(col("event_type") === "view")
      .withColumn("us", unix_micros(col("ts")))
      .select(col("user_id"), col("us").as("st"),
        (col("us") + floor(col("value")) * 10000000L).as("en"))
    val w = Window.partitionBy("user_id").orderBy("st", "en")
    iv
      .withColumn("maxe",
        max("en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newgrp",
        when(col("maxe").isNull || col("st") > col("maxe"), 1L).otherwise(0L))
      .withColumn("grp", sum("newgrp")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "grp")
      .agg(min("st").as("gs"), max("en").as("ge"), count(lit(1)).as("nsrc"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_merged"), sum("nsrc").as("n_raw"),
        sum(col("ge") - col("gs")).as("covered_us"))
      .orderBy("user_id")
  }

  /** MAD outlier multiplier for [[q69]]: 3 sigma-equivalents (3 × 1.4826,
    * the normal-consistency constant), written as the literal both engines
    * share.
    */
  val madK = 4.4478

  /** Q69 — robust outlier profile per event type: median + MAD (median
    * absolute deviation), then the count of values beyond [[madK]]·MAD —
    * the outlier gate that, unlike q46's IQR fences or q64's rolling sigma,
    * a few extreme values cannot drag (median and MAD have 50% breakdown).
    *
    * Three passes over the (type, value) projection — median, MAD (needs
    * the median), outlier count (needs both) — each a partial-aggregable
    * groupBy with the 20-row stats frame BROADCAST back, so no pass
    * shuffles the events themselves. The predicate compares 6-ROUNDED
    * stats (the q64/FIXTURES rule): both engines threshold on identical
    * quantized med/mad, so an engine-local interpolation ulp can't flip a
    * boundary row.
    */
  def q69(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(min("med").as("med"),
        round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"),
        count(lit(1)).as("n"))
    ev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(min("n").as("n"), min("med").as("med"), min("mad").as("mad"),
        sum(when(round(abs(col("value") - col("med")) - col("mad") * madK, 6) > 0,
          1L).otherwise(0L)).as("outliers"))
      .orderBy("event_type")
  }

  /** Q70 — period-over-period movers: monthly revenue per nation with the
    * previous month and percent change alongside — the MoM trend table
    * every revenue dashboard leads with. Revenue sums are exact DECIMAL
    * (order-independent), each numerator cast to double exactly once for
    * the IEEE percent division both engines share verbatim.
    *
    * Scale: the dimension joins broadcast (customer/nation vs the orders
    * fact), the monthly rollup partial-aggregates to nations×months rows,
    * and the lag window runs on that TINY aggregate — the expensive scan
    * never reaches a window.
    */
  def q70(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), trunc(col("o_orderdate"), "month").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revd"))
    val w = Window.partitionBy("n_name").orderBy("month")
    rev
      .withColumn("prev", lag("revd", 1).over(w))
      .select(col("n_name"), col("month"),
        round(col("revd").cast("double"), 6).as("revenue"),
        round(col("prev").cast("double"), 6).as("prev_revenue"),
        round((col("revd") - col("prev")).cast("double") /
          col("prev").cast("double") * 100, 6).as("pct_change"))
      .orderBy("n_name", "month")
  }

  /** Kernel length for [[q71]]'s truncated exponential smoothing. */
  val ewmaK = 8

  /** Q71 — EWMA trend smoothing of the daily event stream: per event type,
    * each day's mean value and its exponentially-weighted moving average
    * over the trailing [[ewmaK]] days (α = 0.5, truncated kernel,
    * renormalized over the days actually present).
    *
    * Determinism is the whole design: α = 0.5 makes every kernel weight a
    * TERMINATING decimal (0.5^k), daily means are quantized to
    * DECIMAL(18,6) before smoothing, and the weighted sum is a fixed-arity
    * lag-term expression — so numerator and denominator are exact decimals
    * in both engines and the single final double division is shared IEEE.
    * (A windowed double SUM would hit the q64 segment-tree-order problem;
    * a recursive EWMA would not be expressible in one window pass at all.)
    *
    * Scale: the smoothing runs on the DAILY AGGREGATE (types × days rows),
    * not the stream — one partial-aggregable rollup shuffles, the window
    * is a bounded 8-lag frame on the tiny frame.
    */
  def q71(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value").cast("decimal(28,6)")).cast("double") /
        count(lit(1)), 6).cast("decimal(18,6)").as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val terms = (0 until ewmaK).map { k =>
      val wk = lit(BigDecimal(0.5).pow(k))
      val xk = if (k == 0) col("x") else lag("x", k).over(w)
      (when(xk.isNotNull, xk * wk).otherwise(lit(BigDecimal(0))),
        when(xk.isNotNull, wk).otherwise(lit(BigDecimal(0))))
    }
    daily
      .withColumn("ewma", round(terms.map(_._1).reduce(_ + _).cast("double") /
        terms.map(_._2).reduce(_ + _).cast("double"), 6))
      .select(col("event_type"), col("day"),
        round(col("x").cast("double"), 6).as("daily_avg"), col("ewma"))
      .orderBy("event_type", "day")
  }

  /** Delta cutoff for [[q72]]: orders strictly before it are the "already
    * aggregated" base, the rest arrive as the delta batch.
    */
  val incrCutoff = "1997-06-01"

  /** Q72 — incremental aggregate maintenance (materialized-view merge): the
    * monthly order stats are computed as TWO independent partial states —
    * a base batch (orders before [[incrCutoff]]) and a delta batch — whose
    * mergeable state tuples (n, Σx, Σx²) are then combined by a plain
    * state-sum, exactly the nightly "merge the delta, never rescan the
    * base" discipline a 100 TB warehouse runs. Because the moments are
    * exact DECIMAL, merged state ≡ full recompute BIT-FOR-BIT — which is
    * what the oracle (a direct recompute) verifies.
    *
    * Scale: each batch partial-aggregates to months-sized states before any
    * shuffle; the merge itself unions two tiny state frames. At 100 TB the
    * base state is a staged table and only the delta ever scans.
    */
  def q72(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      trunc(col("o_orderdate"), "month").as("month"),
      col("o_orderdate"), col("o_totalprice"))
    def state(df: DataFrame): DataFrame = df.groupBy("month").agg(
      count(lit(1)).as("n"),
      sum(col("o_totalprice").cast("decimal(18,2)")).as("s"),
      sum((col("o_totalprice") * col("o_totalprice")).cast("decimal(38,6)")).as("ss"))
    val cutoff = lit(incrCutoff).cast("timestamp_ntz")
    val merged = state(o.filter(col("o_orderdate") < cutoff))
      .unionByName(state(o.filter(col("o_orderdate") >= cutoff)))
      .groupBy("month")
      .agg(sum("n").as("n"), sum("s").as("s"), sum("ss").as("ss"))
    merged.select(col("month"), col("n"), {
        val ndec = col("n").cast("decimal(20,0)")
        val nd = col("n").cast("double")
        val m2 = (ndec * col("ss") - col("s") * col("s")).cast("double")
        struct(
          // round at SCALE 2, not 6: the monthly total reaches ~4.3e9 at
          // sf1, where 6-decimal rounding needs 16 significant digits —
          // past double's exact range, and the two engines' rounding
          // mechanisms disagree by one scale-6 ulp (observed in the sf1
          // rehearsal). At scale 2 the scaled value stays far below 2^53.
          round(col("s").cast("double"), 2).as("total"),
          round(col("s").cast("double") / nd, 6).as("avg_price"),
          // a 1-order month has no sample stddev: keep the 0-denominator
          // out of the (ANSI) division entirely — NULL, like the oracle's
          // CASE arm
          when(col("n") > 1, round(sqrt(m2 / (nd * (nd - 1))), 6))
            .as("sd_price")).as("m")
      })
      .select(col("month"), col("n"), col("m.total").as("total"),
        col("m.avg_price").as("avg_price"), col("m.sd_price").as("sd_price"))
      .orderBy("month")
  }

  /** Rolling-window length (days) for [[q73]]. */
  val wauDays = 7

  /** Q73 — rolling 7-day active users (WAU) per day, WITHOUT a
    * distinct-over-sliding-window: for each user's active day, emit the
    * days whose trailing [[wauDays]]-day window that activity is the
    * user's FIRST contribution to — `[max(d, prev_active + 7), d + 6]`, an
    * interval that is empty-proof and disjoint from the previous
    * occurrence's by construction — then a plain partial-aggregable count
    * per day. The naive phrasing (`count(DISTINCT user) OVER (RANGE 6
    * PRECEDING)`) re-shuffles every event into every window it touches
    * and cannot partial-aggregate; this one is a (user, day) dedup, a
    * per-user lag, a ≤7-row bounded explode, and one count — every stage
    * shuffles compact keys, so the same plan holds at 100 TB.
    */
  def q73(s: SparkSession, dir: String): DataFrame = {
    val act = EventsBackbone.byUser(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    act
      .withColumn("prev", lag("d", 1).over(w))
      .withColumn("from",
        when(col("prev").isNull, col("d"))
          .otherwise(greatest(col("d"), date_add(col("prev"), wauDays))))
      .withColumn("to", date_add(col("d"), wauDays - 1))
      .select(explode(sequence(col("from"), col("to"))).as("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("wau"))
      .orderBy("day")
  }

  /** Band width (in exact cents) for [[q74]]'s distributed prefix sum. */
  val paretoBandCents = 6553600L

  /** Cumulative-share class boundaries for [[q74]] (percent). */
  val paretoA = 80L
  val paretoB = 95L

  /** Q74 — Pareto/ABC classification of parts by revenue: rank parts by
    * exact DECIMAL revenue, classify A while the cumulative share before a
    * part is under [[paretoA]]%, B under [[paretoB]]%, C otherwise, and
    * roll up each class. The cumulative sum NEVER runs as a global
    * single-partition window: parts are banded by `revenue_cents div
    * [[paretoBandCents]]` (bands are order-consistent with revenue — a
    * strictly higher band means strictly higher revenue), band totals get
    * a running offset on the BAND-count-sized frame, and each part's
    * global cumulative = band offset + within-band window partitioned BY
    * band — the classic two-level distributed prefix sum. Class
    * comparisons multiply exact decimals by integer percents, so no
    * engine can flip a boundary part.
    */
  def q74(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("r"))
      .withColumn("band",
        expr(s"CAST(r * 100 AS BIGINT) div $paretoBandCents"))
    val bandOff = rev.groupBy("band").agg(sum("r").as("bsum"))
      .withColumn("off", coalesce(
        sum("bsum").over(BoundedWindow.ordered("calendar", desc("band"))
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(BigDecimal(0))))
      .select("band", "off")
    val tot = rev.agg(sum("r").as("T"))
    val wLoc = Window.partitionBy("band").orderBy(desc("r"), asc("l_partkey"))
    rev.join(broadcast(bandOff), "band")
      .withColumn("cum", col("off") + sum("r").over(wLoc))
      .withColumn("cb", col("cum") - col("r"))
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("cb") * 100 < col("T") * paretoA, "A")
          .when(col("cb") * 100 < col("T") * paretoB, "B")
          .otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"), sum("r").as("revd"), max("T").as("T"))
      .select(col("cls"), col("n_parts"),
        // class totals reach ~2e9 even at verify scale — scale-2 rounding
        // (exact: the decimal source has scale 2) keeps both engines'
        // rounding in double's exact range; the SHARE is ≤ 1 so scale 6
        // is safe there.
        round(col("revd").cast("double"), 2).as("revenue"),
        round(col("revd").cast("double") / col("T").cast("double"), 6).as("share"))
      .orderBy("cls")
  }

  /** Minimum pair co-occurrence kept by [[q75]]. */
  val basketMinSup = 3

  /** Q75 — market-basket association rules over order baskets: distinct
    * part pairs co-occurring in an order, with support, confidence and
    * lift. The pair generator is a SELF-EQUI-join on `l_orderkey` with
    * `p1 < p2` — both sides hash to the same orderkey partitioning (ONE
    * shuffle, co-partitioned), and the fan-out is bounded by the basket
    * size (≤ ~dozens of lines), never the catalog. The per-part count
    * joins carry NO broadcast hint — `pc` is part-catalog-sized, which at
    * 100 TB is too big to pin to every executor; AQE broadcasts it when
    * (and only when) it measures small. Lift's `c1*c2` denominator
    * multiplies as DOUBLE: two catalog-scale longs can overflow int64
    * while their double product (the division semantics anyway) cannot.
    * The ranking is a TakeOrdered over the [[basketMinSup]]-filtered pairs
    * on the ROUNDED lift (ties by part keys).
    */
  def q75(s: SparkSession, dir: String): DataFrame = {
    val it = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey").distinct()
    val n = it.agg(countDistinct("l_orderkey").cast("double").as("N"))
    val pc = it.groupBy("l_partkey").agg(count(lit(1)).as("c"))
    val pairs = it.as("a")
      .join(it.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= basketMinSup)
    pairs
      .join(pc.select(col("l_partkey").as("p1"), col("c").as("c1")), "p1")
      .join(pc.select(col("l_partkey").as("p2"), col("c").as("c2")), "p2")
      .crossJoin(broadcast(n))
      .select(col("p1"), col("p2"), col("cnt"),
        round(col("cnt") / col("N"), 6).as("support"),
        round(col("cnt") / col("c1"), 6).as("confidence"),
        round(col("cnt") * col("N") /
          (col("c1").cast("double") * col("c2").cast("double")), 6).as("lift"))
      .orderBy(desc("lift"), asc("p1"), asc("p2"))
      .limit(20)
  }

  /** Q76 — cohort lifetime-value matrix: customers grouped by first-order
    * month, revenue per (cohort, month offset) with the running cumulative
    * and per-customer LTV. First-order months are one partial-aggregable
    * min; the offset rollup shuffles (cohort, offset) keys only; the
    * cumulative window partitions BY COHORT over the months-sized
    * aggregate (never the orders); cohort sizes ride a broadcast. Revenue
    * is exact DECIMAL end-to-end, cast to double exactly once per output
    * column.
    */
  def q76(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_custkey"), trunc(col("o_orderdate"), "month").as("m"),
      col("o_totalprice"))
    val first = o.groupBy("o_custkey").agg(min("m").as("cohort"))
    val sz = first.groupBy("cohort").agg(count(lit(1)).as("customers"))
    val rev = o.join(first, "o_custkey")
      .groupBy(col("cohort"),
        months_between(col("m"), col("cohort")).cast("int").as("m_offset"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revd"))
    rev.join(broadcast(sz), "cohort")
      .withColumn("cum", sum("revd").over(
        Window.partitionBy("cohort").orderBy("m_offset")))
      .select(col("cohort"), col("m_offset"), col("customers"),
        round(col("revd").cast("double"), 2).as("revenue"),
        round(col("cum").cast("double"), 2).as("cum_revenue"),
        round(col("cum").cast("double") / col("customers"), 6).as("ltv"))
      .orderBy("cohort", "m_offset")
  }

  /** Q80 — first-touch revenue attribution: each user's purchases credited
    * to the event type that FIRST brought them in. The first touch is a
    * partial-aggregable `min(struct(us, event_id, type))` — the packed-min
    * idiom, NOT a row_number window, so the event log partial-aggregates
    * map-side instead of fully shuffling by user; per-user purchase rollups
    * shuffle the same key, and the final attribution rollup is
    * touch-type-sized. Purchase values sum as exact DECIMAL; the
    * attributed total rounds at SCALE 2 (the SCALE_r8 magnitude rule).
    */
  def q80(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsBackbone.byUser(s, dir)
      .withColumn("us", unix_micros(col("ts")))
    val first = ev
      .groupBy("user_id")
      .agg(min(struct(col("us").as("us"), col("event_id").as("eid"),
        col("event_type").as("et"))).as("f"))
      .select(col("user_id"), col("f.et").as("first_touch"))
    val conv = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("np"),
        sum(col("value").cast("decimal(28,6)")).as("v"))
    first.join(conv, Seq("user_id"), "left")
      .groupBy("first_touch")
      .agg(count(lit(1)).as("users"),
        sum(when(col("np").isNotNull, 1L).otherwise(0L)).as("converted"),
        coalesce(sum("np"), lit(0L)).as("purchases"),
        round(coalesce(sum("v"), lit(BigDecimal(0))).cast("double"), 2)
          .as("attributed_value"))
      .orderBy("first_touch")
  }

  /** Funnel window for [[q81]] in microseconds (24 h). */
  val funnelWindowUs = 86400000000L

  /** Q81 — TIME-BOUNDED window funnel (the `windowFunnel` shape): the
    * deepest view → click → purchase chain each user completes with the
    * whole chain inside [[funnelWindowUs]], counted per depth. Unlike
    * q42's untimed first-occurrence funnel, chain EXISTENCE under a time
    * bound cannot anchor on first events — so the plan computes, in ONE
    * pass of cascaded conditional running maxes over each user's ordered
    * stream, `lv` = latest view strictly before each row and `ca` = the
    * best (latest) view-anchor among clicks strictly before each row; a
    * purchase completes depth 3 iff `ca ≥ ts − window`, a click depth 2
    * iff `lv ≥ ts − window` (v < c < p makes the inner gaps free). One
    * user-keyed shuffle, two same-spec window frames (no extra exchange),
    * no self-join, no per-anchor re-scan — the event log is read once at
    * any scale.
    */
  def q81(s: SparkSession, dir: String): DataFrame = {
    // ordering by (ts, event_id) ≡ (us, event_id) — unix_micros is a
    // monotone injection — but only the ts form matches the staged
    // in-bucket sort, so only it lets the scan satisfy the window
    val wPrev = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    EventsBackbone.byUser(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("lv",
        max(when(col("event_type") === "view", col("us"))).over(wPrev))
      .withColumn("ca",
        max(when(col("event_type") === "click", col("lv"))).over(wPrev))
      .groupBy("user_id")
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("l1"),
        max(when(col("event_type") === "click" &&
          col("lv") >= col("us") - funnelWindowUs, 1).otherwise(0)).as("l2"),
        max(when(col("event_type") === "purchase" &&
          col("ca") >= col("us") - funnelWindowUs, 1).otherwise(0)).as("l3"))
      .select(
        when(col("l3") === 1, 3).when(col("l2") === 1, 2)
          .when(col("l1") === 1, 1).otherwise(0).as("level"))
      .groupBy("level")
      .agg(count(lit(1)).as("users"))
      .orderBy("level")
  }

  /** Q82 — order-to-ship service levels: the lag-day distribution per
    * order priority (n, min, max, p50/p90/p99). The fact-fact join runs
    * co-partitioned on the order key (both sides shuffle once to the same
    * partitioning — at 100 TB this is the bucketed-join shape, never a
    * broadcast of a fact); lags are exact integer day counts, so the
    * percentile interpolation is the engine-shared exact arithmetic the
    * q69 family already pins.
    */
  def q82(s: SparkSession, dir: String): DataFrame = {
    val lag = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("d2"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("d1")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), datediff(col("d2"), col("d1")).as("lag"))
    lag.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min("lag").as("min_lag"), max("lag").as("max_lag"),
        round(expr("percentile(lag, 0.5)"), 6).as("p50"),
        round(expr("percentile(lag, 0.9)"), 6).as("p90"),
        round(expr("percentile(lag, 0.99)"), 6).as("p99"))
      .orderBy("o_orderpriority")
  }

  /** Q83 — ratio-to-report within a hierarchy: each nation's revenue as a
    * share of its region and of the world. Dimension joins broadcast; the
    * share windows run on the 25-row (region, nation) AGGREGATE (the
    * region partition bounds the frame); the world total is a broadcast
    * single-row aggregate. Revenue is exact DECIMAL, totals round at
    * scale 2.
    */
  def q83(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("revd"))
    val tot = rev.agg(sum("revd").as("gt"))
    rev
      .withColumn("rtot", sum("revd").over(Window.partitionBy("r_name")))
      .crossJoin(broadcast(tot))
      .select(col("r_name"), col("n_name"),
        round(col("revd").cast("double"), 2).as("revenue"),
        round(col("revd").cast("double") / col("rtot").cast("double"), 6)
          .as("share_region"),
        round(col("revd").cast("double") / col("gt").cast("double"), 6)
          .as("share_total"))
      .orderBy("r_name", "n_name")
  }

  /** Q84 — top event PATHS: the most common length-3 event-type sequences
    * across all user streams — q66's transition matrix extended one order
    * deeper, still window-only: two lags over each user's ordered stream
    * (one shuffle), a partial-aggregable path count, and a TakeOrdered
    * top-20. The path alphabet bounds the aggregate (|types|³), never the
    * stream.
    */
  def q84(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    EventsBackbone.byUser(s, dir)
      .withColumn("t1", lag("event_type", 2).over(w))
      .withColumn("t2", lag("event_type", 1).over(w))
      .filter(col("t1").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("event_type")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("path"))
      .limit(20)
  }

  /** Q85 — referential-integrity audit (the relationship-test suite a
    * warehouse runs before publishing): one row per FK constraint with the
    * child row count, the orphan count (left-anti against the parent key),
    * and the pass flag. Dimension-side parents broadcast; the fact-fact
    * check (lineitem → orders) runs as a co-partitioned anti-join; every
    * count partial-aggregates. Five thin aggregates union into the
    * 5-row report — at 100 TB each constraint is one scan + one anti-join,
    * and they share nothing, so they schedule in parallel.
    */
  def q85(s: SparkSession, dir: String): DataFrame = {
    def check(name: String, child: DataFrame, ckey: String,
              parent: DataFrame, pkey: String, bcast: Boolean): DataFrame = {
      val p = parent.select(col(pkey))
      val orphans = child.select(col(ckey))
        .join(if (bcast) broadcast(p) else p, col(ckey) === col(pkey), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      child.agg(count(lit(1)).as("child_rows"))
        .crossJoin(orphans)
        .select(lit(name).as("fk"), col("child_rows"), col("orphans"),
          (col("orphans") === 0).as("ok"))
    }
    val li = Tables.lineitem(s, dir)
    Seq(
      check("lineitem.orderkey->orders", li, "l_orderkey",
        Tables.orders(s, dir), "o_orderkey", bcast = false),
      check("lineitem.partkey->part", li, "l_partkey",
        Tables.part(s, dir), "p_partkey", bcast = true),
      check("lineitem.suppkey->supplier", li, "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey", bcast = true),
      check("orders.custkey->customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey", bcast = true),
      check("customer.nationkey->nation", Tables.customer(s, dir), "c_nationkey",
        Tables.nation(s, dir), "n_nationkey", bcast = true))
      .reduce(_ unionByName _)
      .orderBy("fk")
  }

  /** Winsorization percentiles for [[q86]]. */
  val winsorLo = 0.01
  val winsorHi = 0.99

  /** Q86 — winsorized robust stats: per event type, mean/sd before vs
    * after clipping values to the [p01, p99] band — the outlier-HANDLING
    * step downstream of q69's outlier-DETECTION gate. The percentile pass
    * broadcasts its 6-ROUNDED bounds back (both engines clip at identical
    * quantized fences), the clipped pass re-reads the scan once, and both
    * moment sets are exact DECIMAL with cast-once-double closed forms.
    */
  def q86(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val fences = ev.groupBy("event_type").agg(
      round(expr(s"percentile(value, $winsorLo)"), 6).as("lo"),
      round(expr(s"percentile(value, $winsorHi)"), 6).as("hi"))
    val c = ev.join(broadcast(fences), "event_type")
      .select(col("event_type"), col("value"),
        least(greatest(col("value"), col("lo")), col("hi")).as("w"))
    def stats(x: String, suf: String): Seq[org.apache.spark.sql.Column] = Seq(
      sum(col(x).cast("decimal(28,6)")).as(s"s$suf"),
      sum((col(x) * col(x)).cast("decimal(38,6)")).as(s"ss$suf"))
    val m = c.groupBy("event_type")
      .agg(count(lit(1)).as("n"), stats("value", "r") ++ stats("w", "w"): _*)
    def fold(suf: String): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
      val nd = col("n").cast("double")
      val nDec = col("n").cast("decimal(20,0)")
      val mean = col(s"s$suf").cast("double") / nd
      val sd = sqrt((nDec * col(s"ss$suf") - col(s"s$suf") * col(s"s$suf")).cast("double") /
        (nd * (nd - 1)))
      (round(mean, 6), round(sd, 6))
    }
    val (mr, sr) = fold("r"); val (mw, sw) = fold("w")
    m.select(col("event_type"), col("n"), mr.as("mean_raw"), sr.as("sd_raw"),
        mw.as("mean_wins"), sw.as("sd_wins"))
      .orderBy("event_type")
  }

  /** Output part-key bound for [[q87]] (keeps the declared result small;
    * the filter pushes to the scan so the bound also scopes the work).
    */
  val balanceMaxPart = 50L

  /** Q87 — clamped running balance (inventory with stockout): per part,
    * daily net quantity (receipts when `l_linestatus = 'F'`, issues
    * otherwise) accumulated with the balance FLOORED AT ZERO. The clamp
    * makes the recurrence non-linear (`b_i = max(0, b_{i-1} + x_i)`), so
    * it looks like it needs a sequential scan — but the one-sided clamp
    * has a closed form over plain windows:
    * `balance_i = prefix_i − min(0, running_min(prefix))`, two cumulative
    * windows partitioned by part over the daily aggregate. Exact DECIMAL
    * throughout; no iteration, no mapPartitions.
    */
  def q87(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(s, dir)
      .filter(col("l_partkey") < balanceMaxPart)
      .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(when(col("l_linestatus") === "F", col("l_quantity"))
        .otherwise(-col("l_quantity")).cast("decimal(18,2)")).as("net"))
    val w = Window.partitionBy("l_partkey").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("pfx", sum("net").over(w))
      .withColumn("rmin", min("pfx").over(w))
      .select(col("l_partkey"), col("day"),
        round(col("net").cast("double"), 2).as("net"),
        round((col("pfx") - least(lit(BigDecimal(0)), col("rmin"))).cast("double"), 2)
          .as("balance"))
      .orderBy("l_partkey", "day")
  }

  /** Q88 — rolling MEDIAN anomaly baseline: per event type, the median of
    * the 20 PRECEDING values alongside each event (emitted once 10
    * observations exist) — the robust companion to q64's rolling mean/σ
    * (one extreme value shifts a trailing mean for 20 rows; the median
    * shrugs it off). The frame — never more than 20 values — is carried
    * as ONE sorted array per row ([[FrameQuantile.sortedFrame]]) and the
    * median selected in the project with percentile's exact interpolation
    * arithmetic ([[FrameQuantile.medianOfSorted]], bit-parity spec-pinned)
    * — the generic percentile aggregate rebuilt a boxed counts-map per
    * output row, which dominated the walk (SCALE_r10). The frame comes
    * from the SHARED banded [[rollingScaffold]] (one
    * [[BandedWindow.trailingRows]] pass serves q64 and q88), so the walk
    * parallelizes over (type, day) bands instead of 5 sequential tasks
    * (q64's scale note) and the banded construction's shuffles are paid
    * once for the pair. The DECLARED result caps at the first 500
    * rows of the total (type, id) order — like novelty/ttr's caps, so
    * verify/bench hash a bounded frame instead of the whole events table
    * at larger scale factors (r8 ADVICE); the underlying window computes
    * over everything regardless.
    */
  def q88(s: SparkSession, dir: String): DataFrame = {
    rollingScaffold(s, dir)
      .filter(size(col("_frame")) >= 10)
      .select(col("event_type"), col("event_id"),
        round(col("value"), 6).as("value"),
        round(FrameQuantile.medianOfSorted(col("_frame")), 6).as("roll_med"))
      .orderBy("event_type", "event_id")
      .limit(500)
  }

  /** Q89 — daily bounce rate: sessions ([[q51]]'s gap construction),
    * single-event sessions, and their ratio per session-start day — the
    * engagement headline over the sessionize operator. All rollups
    * partial-aggregate on (user, session) then (day); the same one-shuffle
    * window shape as q51.
    */
  def q89(s: SparkSession, dir: String): DataFrame =
    sessionize(s, dir)
      .select(to_date(col("start_ts")).as("day"), col("events"))
      .groupBy("day")
      .agg(count(lit(1)).as("sessions"),
        sum(when(col("events") === 1, 1L).otherwise(0L)).as("bounces"))
      .select(col("day"), col("sessions"), col("bounces"),
        round(col("bounces") / col("sessions"), 6).as("bounce_rate"))
      .orderBy("day")

  /** Q90 — RFM segmentation (the classic customer-base cube): per
    * customer, recency (days from last order to the corpus's last order
    * date), frequency (orders), monetary (exact DECIMAL spend); each
    * dimension scored 1–5 against its own exact quintile cut points; one
    * row per occupied (r, f, m) cell with its population and average spend.
    *
    * Scale shape — deliberately NOT `ntile(5)` over customers: a global
    * ntile is a single-partition sort of the whole customer base. The cut
    * points are ONE exact-percentile aggregate row (the engine-shared
    * interpolation arithmetic the q69/q82 family pins) broadcast back, so
    * the plan is: per-customer rollup (one custkey shuffle) → broadcast
    * cuts → stateless classify → a ≤125-cell rollup. Scores count cut
    * points strictly below the value, so ties land identically in both
    * engines; recency scores INVERT (recent = high).
    */
  def q90(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderdate"),
      col("o_totalprice").cast("decimal(18,2)").as("tp"))
    val per = o.groupBy("o_custkey").agg(
      max("o_orderdate").as("last_d"),
      count(lit(1)).as("f"),
      sum("tp").as("m"))
    val anchor = o.agg(max("o_orderdate").as("corpus_last"))
    val rfm = per.crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        datediff(col("corpus_last"), col("last_d")).cast("long").as("r"),
        col("f"), col("m").cast("double").as("m"), col("m").as("m_dec"))
    val cuts = rfm.agg(
      expr("percentile(r, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
      expr("percentile(f, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
      expr("percentile(m, array(0.2, 0.4, 0.6, 0.8))").as("mc"))
    rfm.crossJoin(broadcast(cuts))
      .select(
        (lit(6) - (lit(1) + expr("aggregate(rc, 0, (a, x) -> a + IF(x < r, 1, 0))")))
          .as("r_score"), // recent = LOW days = HIGH score
        (lit(1) + expr("aggregate(fc, 0, (a, x) -> a + IF(x < f, 1, 0))")).as("f_score"),
        (lit(1) + expr("aggregate(mc, 0, (a, x) -> a + IF(x < m, 1, 0))")).as("m_score"),
        col("m_dec"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("customers"),
        // exact DECIMAL cell sum, divided as double — a double avg() would
        // be fold-order-dependent across partitions. The QUOTIENT rounds at
        // scale 6, not 2: cents/count quotients routinely print as exact
        // 3-decimal values (x.885 for even counts), and rounding THOSE at
        // scale 2 is a guaranteed cross-engine repr-vs-binary tie; at scale
        // 6 the same value needs no rounding at all (found by the r9 gate:
        // cell 86 hashed .89 vs .88)
        round(sum("m_dec").cast("double") / count(lit(1)), 6).as("avg_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Q91 — conversion latency: per user, the gap between the FIRST 'view'
    * and the FIRST LATER 'purchase' (both packed-min conditional
    * aggregates — one user-keyed rollup off the staged user buckets, no
    * window, no self-join), then the funnel headline: audience, converted
    * count, conversion rate, and the exact p50/p90 latency in seconds.
    * The percentile runs over one row per CONVERTED user — at 100 TB still
    * one shuffle of (user → two longs) and a bounded final aggregate.
    */
  def q91(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsBackbone.byUser(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val per = ev.groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("us"))).as("v"),
      min(when(col("event_type") === "purchase", col("us"))).as("p"))
    per
      .select(col("v"), col("p"),
        when(col("v").isNotNull && col("p").isNotNull && col("p") > col("v"),
          (col("p") - col("v")) / lit(1000000L)).as("lag_sec"))
      .filter(col("v").isNotNull)
      .agg(count(lit(1)).as("viewers"),
        count(col("lag_sec")).as("converted"),
        round(count(col("lag_sec")).cast("double") / count(lit(1)), 6).as("cvr"),
        round(expr("percentile(lag_sec, 0.5)"), 6).as("p50_sec"),
        round(expr("percentile(lag_sec, 0.9)"), 6).as("p90_sec"))
  }

  /** Q92 — time-weighted average (TWAP) per event type: each value holds
    * until the type's NEXT event (the step-function reading a sampled
    * metric needs — a plain mean over-weights bursts), so the average
    * weighs each value by its holding duration. The `lead` is computed
    * BANDED ([[BandedWindow.leadValue]]: per-(type, day) lead + each
    * band's last row takes the next band's first value off the tiny
    * bucket-level table), so it parallelizes over (type, day) bands
    * instead of 5 sequential tasks (q64's scale note); each type's last
    * event contributes no duration. value×seconds sums as exact DECIMAL,
    * the final ratio is a value-magnitude number (scale 6 safe at any sf).
    */
  def q92(s: SparkSession, dir: String): DataFrame = {
    BandedWindow.leadValue(
      Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          col("value"), unix_micros(col("ts")).as("us")),
      key = "event_type", ts = "ts", id = "event_id",
      valueCol = "us", name = "next_us")
      .filter(col("next_us").isNotNull)
      .select(col("event_type"),
        (col("next_us") - col("us")).as("dur_us"),
        col("value"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("dur_us").as("total_us"),
        // value×duration sums as exact DECIMAL (long micros × decimal
        // value); both operands of the final division cast to double so
        // the quotient is one deterministic double op, not an
        // engine-specific decimal division
        round(sum(col("value").cast("decimal(18,6)") * col("dur_us")).cast("double") /
          sum(col("dur_us")).cast("double"), 6).as("twap"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("plain_avg"))
      .orderBy("event_type")
  }

  /** Q93 — day-of-week × hour seasonality profile: event volume and mean
    * value on the 7×24 grid, with each cell's share of its weekday — the
    * load-shape readout capacity planning and anomaly baselines start
    * from. One partial-aggregable rollup to ≤168 cells; the share window
    * runs on the CELL aggregate (bounded by the calendar, never the
    * corpus).
    */
  def q93(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"),
        col("value"))
      .groupBy("dow", "hr")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_value"))
    cells
      .withColumn("dow_share",
        round(col("n") / sum("n").over(Window.partitionBy("dow")), 6))
      .orderBy("dow", "hr")
  }

  /** Q94 — behavioral-diversity profile: Shannon entropy of each user's
    * event-type distribution, histogrammed in 0.1-nat buckets with the
    * population and mean activity per bucket — the "bots repeat one
    * action, humans mix" segmentation signal. The per-user entropy uses
    * `H = ln n − (Σ c·ln c)/n`, so the only float fold is `Σ c·ln c`,
    * summed in FIXED type order (sorted-struct aggregate — the pqTopK
    * determinism idiom) over at most |event types| terms; the (user,
    * type) rollup rides the staged user buckets exchange-free. Bucket
    * counts and activity sums are exact integers.
    */
  def q94(s: SparkSession, dir: String): DataFrame = {
    val ut = EventsBackbone.byUser(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    ut.groupBy("user_id")
      .agg(sum("c").as("n"),
        expr("""aggregate(array_sort(collect_list(struct(event_type AS t, c AS c))),
                CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.c * ln(e.c))""").as("slnc"))
      // clamp: a single-type user's entropy is mathematically 0 but computes
      // as ln n − (n·ln n)/n, which can land 1 ulp BELOW zero and floor into
      // decibucket −1 — and the outcome would then hinge on each engine's
      // libm ln rounding. greatest(·, 0) makes the exact-zero class
      // boundary-proof (oracle applies the same GREATEST).
      .select(col("n"),
        greatest(log(col("n")) - col("slnc") / col("n"), lit(0.0)).as("ent"))
      .select(floor(col("ent") * 10).cast("long").as("decibucket"), col("n"))
      .groupBy("decibucket")
      .agg(count(lit(1)).as("users"),
        round(sum("n").cast("double") / count(lit(1)), 6).as("avg_events"))
      .orderBy("decibucket")
  }

  /** Q95 — sessions-per-user by acquisition cohort: how intensely each
    * monthly cohort uses the product, as (users, total/avg/max sessions)
    * per first-seen month. The showcase for CO-PARTITIONED derived facts:
    * session counts (q51's gap construction reduced per user) and cohorts
    * (first-event month per user) BOTH derive from the staged user
    * buckets, so the window, both user rollups AND the fact-fact join on
    * user_id plan with ZERO hash exchanges — the only shuffle in the
    * whole query is the final months-sized cohort rollup (plan-pinned).
    * At 100 TB this is the payoff of bucketing the event log once: every
    * per-user derivation joins every other one for free, forever.
    */
  def q95(s: SparkSession, dir: String): DataFrame = {
    val ev = EventsBackbone.byUser(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ts")
    val sess = ev.select(col("user_id"), col("ts"))
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull ||
          (col("ts").cast("long") - col("prev").cast("long")) > sessionGapSec, 1L)
          .otherwise(0L))
      .groupBy("user_id").agg(sum("brk").as("sessions"))
    val cohort = ev.groupBy("user_id")
      .agg(trunc(to_date(min("ts")), "month").as("cohort"))
    // the merge hint keeps the tiny test-scale cohort frame on the
    // co-partitioned sort-merge path the staging exists for (q31's
    // precedent) — at real user counts neither side broadcasts anyway
    sess.hint("merge").join(cohort, "user_id")
      .groupBy("cohort")
      .agg(count(lit(1)).as("users"),
        sum("sessions").as("total_sessions"),
        round(sum("sessions").cast("double") / count(lit(1)), 6).as("avg_sessions"),
        max("sessions").as("max_sessions"))
      .orderBy("cohort")
  }

  /** Band width (cents) for [[q98]]'s distributed prefix max. */
  val skylineBandCents = 6553600L

  /** Q98 — SKYLINE (Pareto-frontier) of parts: every part no other part
    * beats on BOTH price (lower better) and size (higher better) — the
    * classic multi-criteria dominance operator. Never the textbook
    * all-pairs NOT EXISTS: for 2 dimensions the skyline is exactly the
    * strict prefix-max frontier — group to one `(price, max size)` row per
    * distinct price, then a part is on the frontier iff its size exceeds
    * the max size over all strictly cheaper prices. That prefix max runs
    * BANDED (per-band window + a carry over the tiny band table — the q74
    * two-level prefix idiom), so no global single-partition window exists
    * at any scale; members are recovered by an equi-join back to `part`.
    * Same-price dominance falls out of the per-price grouping (only
    * max-size rows at a price can survive, exact ties all kept). Declared
    * output caps at 500 frontier rows of the total (price, partkey) order.
    */
  def q98(s: SparkSession, dir: String): DataFrame = {
    val px = Tables.part(s, dir)
      .groupBy(col("p_retailprice").as("x"))
      .agg(max("p_size").as("my"))
      .withColumn("band", expr(s"CAST(x * 100 AS BIGINT) div $skylineBandCents"))
    // tiny band table: best size seen in any STRICTLY earlier band
    val carry = px.groupBy("band").agg(max("my").as("bmax"))
      .withColumn("carry", max("bmax").over(
        BoundedWindow.ordered("calendar", col("band"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("band", "carry")
    val wLoc = Window.partitionBy("band").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = px.join(broadcast(carry), "band")
      .withColumn("pmax", greatest(
        coalesce(col("carry"), lit(-1)),
        coalesce(max("my").over(wLoc), lit(-1))))
      .filter(col("my") > col("pmax"))
      .select(col("x"), col("my"))
    Tables.part(s, dir)
      .join(frontier, col("p_retailprice") === col("x") &&
        col("p_size") === col("my"))
      .select(col("p_partkey"), round(col("p_retailprice"), 2).as("price"),
        col("p_size").as("size"))
      .orderBy("price", "p_partkey")
      .limit(500)
  }

  /** Band width (cents of customer lifetime revenue) for [[q99]]'s banded
    * rank — sized so a nation's customers spread over hundreds of bands.
    */
  val giniBandCents = 2000000L

  /** Q99 — GINI concentration of revenue per nation: how unequally a
    * nation's revenue distributes over its customers (0 = uniform,
    * →1 = one whale), via G = (2·Σᵢ i·vᵢ − (n+1)·Σᵢ vᵢ) / (n·Σᵢ vᵢ) over
    * each nation's customers ranked ascending by lifetime revenue. The
    * rank is the scale hazard — `row_number() over (partition by nation)`
    * serializes on 25 nations forever — so it comes from
    * [[BandedWindow.ordinal]]: (nation, revenue-band) parallel
    * row_numbers + band-count offsets compose the exact global rank, and
    * everything after is one partial-aggregable rollup. All sums exact
    * DECIMAL; the one double division happens at output.
    */
  def q99(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("v"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    val ranked = BandedWindow.ordinal(cust, "c_nationkey", "v", "o_custkey",
      expr(s"CAST(v * 100 AS BIGINT) div $giniBandCents"), "i")
    ranked.groupBy("c_nationkey")
      .agg(count(lit(1)).as("customers"),
        sum("v").as("S"),
        sum(col("v") * col("i")).as("S1"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("customers"),
        round(col("S").cast("double"), 2).as("revenue"),
        // the exact DECIMAL sums drop to double only HERE, in a fixed
        // expression shape both engines evaluate with identical IEEE ops
        // (DECIMAL×BIGINT precision-cap rules differ between engines;
        // double arithmetic on exact inputs does not)
        round((lit(2.0) * col("S1").cast("double") -
          (col("customers") + 1).cast("double") * col("S").cast("double")) /
          (col("customers").cast("double") * col("S").cast("double")), 6)
          .as("gini"))
      .orderBy("nation")
  }

  /** Benford expected first-digit shares log10(1 + 1/d), d = 1..9, as
    * 12-digit literals — literal so BOTH engines parse the identical
    * double instead of each trusting its own libm log10.
    */
  val benfordP: Seq[Double] = Seq(
    0.301029995664, 0.176091259056, 0.124938736608, 0.096910013008,
    0.079181246048, 0.066946789631, 0.057991946978, 0.051152522447,
    0.045757490561)

  /** Q100 — Benford first-digit audit of order totals: observed share of
    * each leading digit vs Benford's law, with each digit's χ²
    * contribution and the total χ² statistic — the classic
    * fabricated-numbers screen, and a pure one-scan partial aggregate (9
    * groups) at any scale. The leading digit comes from the DECIMAL's
    * string head (no log10 on the data path — engine libm stays out
    * entirely); χ² accumulates per-digit contributions as scale-9
    * DECIMALs so the 9-way sum is order-independent in both engines.
    */
  def q100(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.orders(s, dir))
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val wAll = BoundedWindow.ordered("calendar", col("digit"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // NB: the grand total must NOT be named "N" — Spark and DuckDB both
    // resolve identifiers case-insensitively, so "N" silently merges with
    // the per-digit "n"
    d.withColumn("total", sum("n").over(wAll))
      .withColumn("p", element_at(array(benfordP.map(lit): _*), col("digit")))
      .withColumn("dev", col("n") - col("total") * col("p"))
      .withColumn("contrib",
        (col("dev") * col("dev") / (col("total") * col("p"))))
      .withColumn("c9", round(col("contrib"), 9).cast("decimal(28,9)"))
      .select(col("digit"), col("n"),
        round(col("n") / col("total"), 6).as("share"),
        round(col("p"), 6).as("expected"),
        round(col("contrib"), 6).as("chi2_part"),
        round(sum("c9").over(wAll).cast("double"), 6).as("chi2"))
      .orderBy("digit")
  }

  /** Q101 query window: [2024-01-10, 2024-01-16) as epoch micros — six days
    * mid-fixture, crossing zone boundaries on both ends.
    */
  val q101LoUs: Long = 1704844800000000L
  val q101HiUs: Long = 1705363200000000L

  /** The zone width the oracle renders — one definition site with the
    * staged layout's ([[EventsBackbone.zoneMicros]]).
    */
  def zoneMicrosOracle: Long = EventsBackbone.zoneMicros

  /** Q101 — zone-map data skipping: a time-range aggregate served from the
    * time-clustered events copy ([[EventsBackbone.byZone]]) by consulting a
    * per-zone min/max STATS table first — only zones whose [min, max] ts
    * envelope overlaps the query window are read (bucket-pruned IN-list,
    * `SelectedBucketsCount`-audited in the plan spec), with the residual ts
    * predicate applied inside the surviving zones. The declared row carries
    * the pruning audit (zones_total vs zones_scanned) next to the answer,
    * so the oracle checks the skipping DECISION as well as the result.
    *
    * Scale: the stats table is one row per zone (calendar / zone-width —
    * bounded like [[graft.operators.Quantiles]]' per-partition counts, the
    * documented-bounded collect class), and the data scan touches only
    * overlapping zones' files. At 100 TB this is the difference between a
    * 6-day question reading 6 days and reading 30 — the file-skipping
    * every warehouse's zone maps / min-max indexes exist to provide.
    */
  def q101(s: SparkSession, dir: String): DataFrame = {
    val z = EventsBackbone.byZone(s, dir)
    val stats = z.groupBy("zone")
      .agg(min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx"))
      .collect()
    val quals = stats.filter(r => r.getLong(1) < q101HiUs && r.getLong(2) >= q101LoUs)
      .map(_.getLong(0)).sorted
    z.filter(col("zone").isin(quals: _*) &&
        unix_micros(col("ts")) >= q101LoUs && unix_micros(col("ts")) < q101HiUs)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("value").cast("decimal(28,6)")).cast("double"), 6).as("sum_value"))
      .select(
        lit(stats.length.toLong).as("zones_total"),
        lit(quals.length.toLong).as("zones_scanned"),
        col("n_rows"), col("sum_value"))
  }

  /** Q105 query window: [2024-01-20, 2024-01-26) — six days CROSSING the
    * lifecycle ingest cutoff (2024-01-22), so the answer needs rows from
    * both the staged base and the appended batch.
    */
  val q105LoUs: Long = 1705708800000000L
  val q105HiUs: Long = 1706227200000000L

  /** Q105 — zone-map data skipping UNDER INGEST: the q101 stats-driven
    * pruned range query served from the zone lifecycle table
    * ([[EventsBackbone.zoneLifecycle]] — pre-cutoff base staged, post-cutoff
    * batch APPENDED, only the batch shuffled) over a window that crosses
    * the cutoff. Bucket pruning survives appends (a zone's new file lands
    * in the same bucket), so the skipping keeps working on a live ingest;
    * the oracle recomputes from the raw full table, so a dropped or
    * double-applied batch fails the hash, and the stats table is REBUILT
    * from the appended table (a stale zone map would miss the batch's
    * envelope extensions).
    */
  def q105(s: SparkSession, dir: String): DataFrame = {
    val z = EventsBackbone.zoneLifecycle(s, dir)
    val stats = z.groupBy("zone")
      .agg(min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx"))
      .collect()
    val quals = stats.filter(r => r.getLong(1) < q105HiUs && r.getLong(2) >= q105LoUs)
      .map(_.getLong(0)).sorted
    z.filter(col("zone").isin(quals: _*) &&
        unix_micros(col("ts")) >= q105LoUs && unix_micros(col("ts")) < q105HiUs)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("value").cast("decimal(28,6)")).cast("double"), 6).as("sum_value"))
      .select(
        lit(stats.length.toLong).as("zones_total"),
        lit(quals.length.toLong).as("zones_scanned"),
        col("n_rows"), col("sum_value"))
  }

  /** Q102 — CUSUM changepoint detection over the daily event-count series,
    * per event_type: the day where the cumulative deviation from a constant
    * rate peaks (the classic level-shift detector run over ingest volumes
    * before trusting a drift report). The statistic is INTEGER-exact —
    * with per-day counts x_i, prefix sums P_i and total T over n days,
    * the deviation n·P_i − i·T is the CUSUM n·(P_i − (i/n)·T) scaled by n
    * with the division cleared, so both engines compare identical BIGINTs
    * and ties break on the earlier day; the one double division renders the
    * normalized peak at output.
    *
    * Scale: the per-(type, day) rollup is the only corpus-sized stage —
    * partial-aggregable, and exchange-FREE off the [[EventsBackbone.byType]]
    * staged scan (HashPartitioning(event_type) already satisfies the
    * grouping). Every window after it runs on the types × days aggregate
    * (calendar-bounded rows per type), the q71/q93 daily-series shape.
    */
  def q102(s: SparkSession, dir: String): DataFrame = {
    val daily = EventsBackbone.byType(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val wAll = Window.partitionBy("event_type")
    val dev = daily
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("p", sum("x").over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("t", sum("x").over(wAll))
      .withColumn("dev", col("n") * col("p") - col("i") * col("t"))
    dev
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(abs(col("dev")).desc, col("day"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_days"), col("day").as("cp_day"),
        abs(col("dev")).as("cusum_abs"),
        round(abs(col("dev")).cast("double") /
          (col("n").cast("double") * col("t").cast("double")), 6).as("cusum_norm"))
      .orderBy("event_type")
  }

  /** Q104's expectation suite: (rule_id, column, lo, hi) numeric range
    * rules over lineitem — RULES AS DATA, the single definition both the
    * engine and the oracle render from. Two rules are deliberately tighter
    * than the data (discount ≤ 0.05, tax ≤ 0.06) so the suite demonstrably
    * reports violations, not just green checkmarks.
    */
  val q104Rules: Seq[(Int, String, Double, Double)] = Seq(
    (1, "l_quantity", 1.0, 50.0),
    (2, "l_discount", 0.0, 0.05),
    (3, "l_tax", 0.0, 0.06),
    (4, "l_extendedprice", 0.0, 1.0e8))

  /** Q104 — declarative data-quality expectations: a RULES TABLE (not
    * code) evaluated against the fact table in ONE unpivot scan — the
    * column values join the broadcast rules on column name and each rule
    * partial-aggregates its own violation/null counts, so adding a rule
    * changes a row of config, never the plan shape. This is the
    * expectations-suite pattern (assert ranges/null budgets at scan speed)
    * that gates an ingest before anything downstream trusts it; q49/q85
    * profile and audit fixed aspects — this one executes an arbitrary
    * rule set in a single pass.
    */
  def q104(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = q104Rules.toDF("rule_id", "col_name", "lo", "hi")
    Tables.lineitem(s, dir)
      .unpivot(Array.empty, q104Rules.map(r => col(r._2)).toArray, "col_name", "value")
      .join(broadcast(rules), Seq("col_name"))
      .groupBy(col("rule_id"), col("col_name"), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("value").isNull, 1)).as("nulls"),
        count(when(col("value") < col("lo") || col("value") > col("hi"), 1))
          .as("violations"))
      .select(col("rule_id"), col("col_name"), col("lo"), col("hi"),
        col("n_rows"), col("nulls"), col("violations"),
        (col("violations") === 0 && col("nulls") === 0).as("pass"))
      .orderBy("rule_id")
  }

  /** Q103 — Theil-Sen robust trend per nation: the median of all pairwise
    * slopes of the monthly revenue series — the 29%-breakdown trend
    * estimate an OLS fit (C79) loses to one bad month. The pair explosion
    * is months²-per-nation on the ALREADY-AGGREGATED monthly table
    * (calendar-bounded rows — the q71/q93 daily-series argument), so the
    * only corpus-sized stage is the partial-aggregable monthly rollup;
    * slope numerators subtract EXACT decimals before one cast to double
    * (unscaled diffs sit far inside 2⁵³, so the cast is exact and each
    * slope is bit-identical in both engines), and the median renders at
    * scale 2 (monetary-magnitude rule — scale-6 would cross the engine
    * stability limit on sf-proportional slopes).
    */
  def q103(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1).as("x"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("y"))
    val slopes = monthly.as("a")
      .join(monthly.as("b"),
        col("a.nation") === col("b.nation") && col("a.x") < col("b.x"))
      .select(col("a.nation").as("nation"),
        ((col("b.y") - col("a.y")).cast("double") /
          (col("b.x") - col("a.x")).cast("double")).as("slope"))
    slopes.groupBy("nation")
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 2).as("ts_slope"))
      .join(monthly.groupBy("nation").agg(count(lit(1)).as("n_months")), Seq("nation"))
      .select(col("nation"), col("n_months"), col("n_pairs"), col("ts_slope"))
      .orderBy("nation")
  }

  /** `q107_dpp` — dynamic partition pruning through the star layout: the
    * day-partitioned events fact ([[EventsBackbone.dayPartitioned]]) joined
    * to its calendar dimension filtered to weekends. The weekend day-set is
    * a RUNTIME value (it lives in the dim table, invisible to the fact's
    * static predicates), so Catalyst plants a DynamicPruningExpression in
    * the fact scan's PartitionFilters and reuses the dim's broadcast to
    * materialize it — only the qualifying `day=…` directories are ever
    * listed or read. The plan spec pins `dynamicpruning` in the scan; at
    * 100 TB this is the difference between scanning a full event lake and
    * the 2/7ths the query actually needs. Aggregates are exact integers
    * (count, distinct users, id envelope), so the row is engine-exact.
    */
  def q107(s: SparkSession, dir: String): DataFrame = {
    val (factPath, dimPath) = EventsBackbone.dayPartitioned(s, dir)
    val fact = s.read.parquet(factPath)
    val weekend = s.read.parquet(dimPath)
      .filter(col("dow") === 1 || col("dow") === 7) // Spark: 1=Sun, 7=Sat
    fact.join(broadcast(weekend), Seq("day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct("user_id").as("users"),
        min("event_id").as("min_id"),
        max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  /** Trailing window width (days, inclusive of the current day) for the
    * rolling correlation.
    */
  val corrWindowDays = 7

  /** `q108_moving_corr` — rolling 7-OBSERVATION Pearson correlation between
    * the click and view DAILY VOLUMES: the co-movement monitor (did the two
    * funnel legs decouple this week?) that q79's static correlation matrix
    * can't see. SEMANTIC PRECISION (r12 ADVICE): the frame is
    * `rowsBetween(-6, 0)` over PRESENT days — a calendar day with zero
    * click/view events is absent from the daily rollup, so on a gapped
    * series the window spans more than 7 calendar days; the metric is
    * "last 7 observed days", not "last 7 calendar days". On this corpus the
    * two readings coincide — the q65 gap-audit guard (not just q106's)
    * certifies every day in the span is present — and a gapped deployment
    * would join a dense calendar (q38's resample/gap-fill) before this
    * window to get the calendar reading. Engine-exact discipline: the six
    * windowed moments (n, Σx,
    * Σy, Σxy, Σx², Σy²) are INTEGER sums over daily counts — exact and
    * order-free — and the displayed correlation is a fixed dag of IEEE ops
    * (two sqrt, one multiply, one divide) on exactly-representable integer
    * operands, each correctly rounded by the standard, so both engines
    * compute the identical double before the one `round(…, 6)`; |corr| ≤ 1
    * keeps the rounding inside the scale-6 magnitude rule. The daily
    * rollup rides the C137 byType scan (exchange-free partial counts); the
    * windowed stage runs on the tiny aligned day frame (≤ calendar days —
    * the q64/q106 bounded-by-construction precedent).
    */
  def q108(s: SparkSession, dir: String): DataFrame = {
    val daily = EventsBackbone.byType(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("x"),
        count(when(col("event_type") === "view", 1)).as("y"))
    val w = BoundedWindow.ordered("calendar", col("day"))
      .rowsBetween(-(corrWindowDays - 1), 0)
    val n = lit(corrWindowDays.toLong)
    val moments = daily
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("sx", sum("x").over(w))
      .withColumn("sy", sum("y").over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .filter(col("k") === n)
    val cov = n * col("sxy") - col("sx") * col("sy")
    val vx = n * col("sxx") - col("sx") * col("sx")
    val vy = n * col("syy") - col("sy") * col("sy")
    moments
      .filter(vx > 0 && vy > 0)
      .select(col("day"), col("sx").as("clicks"), col("sy").as("views"),
        round(cov.cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6).as("corr7"))
      .orderBy("day")
  }

  /** Q111 — the CALENDAR-DENSE twin of [[q108]] (the r12 ADVICE note made
    * permanent as its own row): q108's `rowsBetween` frame spans 7 PRESENT
    * rows, so on gapped series its "7-day" label is really 7 observations.
    * Here the daily frame is left-joined onto a dense generated calendar
    * (min..max day, zero-filled), so the 7-row frame IS 7 calendar days and
    * a zero-activity day correctly drags the correlation. Same integer
    * moment + closed-form-in-double contract; the calendar frame is bounded
    * by construction (≤ days in the corpus span).
    */
  def q111(s: SparkSession, dir: String): DataFrame = {
    val daily = EventsBackbone.byType(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("x"),
        count(when(col("event_type") === "view", 1)).as("y"))
    val cal = daily.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val dense = cal.join(daily, Seq("day"), "left")
      .na.fill(0L, Seq("x", "y"))
    val w = BoundedWindow.ordered("calendar", col("day"))
      .rowsBetween(-(corrWindowDays - 1), 0)
    val n = lit(corrWindowDays.toLong)
    val moments = dense
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("sx", sum("x").over(w))
      .withColumn("sy", sum("y").over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .filter(col("k") === n)
    val cov = n * col("sxy") - col("sx") * col("sy")
    val vx = n * col("sxx") - col("sx") * col("sx")
    val vy = n * col("syy") - col("sy") * col("sy")
    moments
      .filter(vx > 0 && vy > 0)
      .select(col("day"), col("sx").as("clicks"), col("sy").as("views"),
        round(cov.cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6).as("corr7"))
      .orderBy("day")
  }

  /** Q106 — seasonal-naive forecast backtest: forecast each day's event
    * count per type as the count 7 OBSERVED days earlier (the weekly-naive
    * baseline every capacity forecast must beat before it earns a model),
    * scored over every day with a predecessor — per type, the scored-day
    * count, total/mean absolute error, and MAPE. Absolute errors are
    * integers (exact BIGINT sum); the per-day percentage errors are the
    * one float step, rounded at scale 9 into an exact DECIMAL sum before
    * the single output division (the q100/classifier discipline).
    *
    * Scale: the q102 shape — one exchange-free rollup off the
    * [[EventsBackbone.byType]] staged scan, then a row-lag window on the
    * calendar-bounded daily aggregate. Row-lag (7 observed days), not a
    * calendar join: on a gapped series the q65 gap audit is the guard;
    * the backtest semantics stay deterministic either way.
    */
  def q106(s: SparkSession, dir: String): DataFrame = {
    val daily = EventsBackbone.byType(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("f", lag("x", 7).over(w))
      .filter(col("f").isNotNull)
      .withColumn("abs_err", abs(col("x") - col("f")))
      .withColumn("ape9",
        round(col("abs_err").cast("double") / col("x").cast("double"), 9)
          .cast("decimal(38,9)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum("abs_err").as("abs_err_total"),
        round(sum("abs_err").cast("double") / count(lit(1)), 6).as("mae"),
        round(sum("ape9").cast("double") / count(lit(1)), 6).as("mape"))
      .orderBy("event_type")
  }

  /** Q19 — cosine similarity top-k of every embedding vs `vec_id = 0`
    * (C12). The single query vector is broadcast; similarity is a Catalyst
    * higher-order-function expression (no UDF), so the scan is pruned to
    * `(vec_id, embedding)` and the top-k is TakeOrderedAndProject.
    */
  def q19(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    e.crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        round(VectorOps.cosine(col("embedding"), col("qe")), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(10)
  }
}
