package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational analytics over the TPC-H-ish star schema + events.
  *
  * Scale posture: dimension tables (region/nation/supplier/customer at
  * dim-scale) are broadcast; fact-fact joins shuffle on their keys with
  * AQE; every aggregate is partial-aggregation friendly; the as-of join
  * is the union+window formulation (no per-key range explosion).
  */
object Analytics {

  /** events with a micros-precision long `ts_us`, tolerant of the two
    * physical encodings the generator has shipped: TIMESTAMP(NANOS)
    * (readable only as a nanos long via the nanosAsLong legacy conf,
    * set by [[graft.GraftSession]] — integer div by 1000 keeps
    * exactness) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ; the
    * session is pinned UTC, so the NTZ→TZ cast is wall-clock identity
    * and `unix_micros` yields the same epoch-micros long). All event
    * operators derive time from this one column, so the encoding
    * branch lives here and nowhere else.
    */
  def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val tsUs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    ev.withColumn("ts_us", tsUs)
  }

  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  def q3Topk(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < lit("1996-03-15"))
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit("1996-03-15"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  def q5Regional(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    Tables.lineitem(spark, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // Semi/anti joins pre-aggregate the fact side to distinct keys: the
  // build side shrinks from the fact table to its key cardinality, so
  // AQE turns the join into a broadcast instead of sort-merging the
  // full fact table against the dimension.
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select("o_custkey").distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .join(Tables.lineitem(spark, dir).select("l_suppkey").distinct(),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")

  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    // rev_cents ends the window order: (shipdate, orderkey, linenumber)
    // is NOT unique in the data, and engines order ties differently —
    // with the amount as final key, equal-amount ties are the only ones
    // left and those are interchangeable in a running sum.
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("rev_cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Sum exact integer cents: windowed double sums are not
    // cross-engine reproducible (DuckDB aggregates window frames via
    // segment trees — different FP addition order than a sequential
    // cumulative sum).
    Tables.lineitem(spark, dir)
      .withColumn("rev_cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"),
        sum(col("rev_cents")).over(w).as("running_rev_cents"))
      .orderBy(col("l_suppkey"), col("ship"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Same result set as [[topkPerGroup]] (minus the rank column) but
    * planned through the custom [[graft.plans.TopKPerGroup]] physical
    * operator — bounded per-group heaps with a map-side partial pass
    * instead of the window's full per-partition sort. The oracle
    * validates the custom exec end-to-end.
    */
  def topkCustom(spark: SparkSession, dir: String): DataFrame =
    GraftOps.topKPerGroup(Tables.orders(spark, dir), 3,
        col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "o_orderkey")

  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rk"))
      .filter(col("rk") <= 3)
      .orderBy("o_custkey", "rk")
  }

  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def pivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val aggs = EventTypes.map(t =>
      count(when(col("event_type") === t, 1)).as(s"n_$t")) :+ count(lit(1)).as("n_total")
    eventsUs(spark, dir)
      .groupBy("user_id")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("user_id")
  }

  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    eventsUs(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  /** Gap-based sessionization (30-min inactivity): lag + cumulative
    * session counter — single shuffle on user_id, no self-join.
    */
  /** The ONE canonical 30-minute session cut: appends `session_id`
    * per user to any eventsUs-shaped frame. Shared by [[sessionize]],
    * [[sessionLengthHist]] (via sessionize) and
    * [[attributionFirstTouch]] so the gap constant and the pinned
    * ROWS frame can never drift between session consumers.
    */
  private def withSessionIds(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    ev
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("ts_us") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    withSessionIds(eventsUs(spark, dir))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(timestamp_micros(min(col("ts_us"))), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
        date_format(timestamp_micros(max(col("ts_us"))), "yyyy-MM-dd HH:mm:ss").as("end_ts"))
      .orderBy("user_id", "session_id")
  }

  /** Session-length histogram: how many sessions contain exactly k
    * events, under the same 30-min [[sessionize]] assignment — with
    * [[interEventGapHist]], the pair of charts that validates a gap
    * threshold (a spike at k = 1 means the cutoff splits real visits).
    * Pure composition: the sessionize frame rolled up once more, so
    * the histogram inherits its one-window shape.
    */
  def sessionLengthHist(spark: SparkSession, dir: String): DataFrame =
    sessionize(spark, dir)
      .groupBy("n_events").agg(count(lit(1)).as("n_sessions"))
      .orderBy("n_events")

  /** Hour-of-day × day-of-week activity heatmap (0 = Monday, UTC) —
    * the load-shape chart capacity planning reads. Both coordinates
    * are INTEGER arithmetic on the epoch-microsecond column (never a
    * timezone-dependent date function, so both engines agree at
    * every boundary); one partial-agg shuffle to 168 cells.
    */
  def eventsHeatmap(spark: SparkSession, dir: String): DataFrame =
    eventsUs(spark, dir)
      .withColumn("dow", expr("((ts_us div 86400000000) + 3) % 7"))
      .withColumn("hour", expr("(ts_us div 3600000000) % 24"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("dow", "hour")

  def windowTumbling(spark: SparkSession, dir: String): DataFrame =
    eventsUs(spark, dir)
      .groupBy(window(timestamp_micros(col("ts_us")), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  /** As-of join: for each event, the most recent order (by orderdate,
    * then orderkey) of the same user at-or-before the event timestamp —
    * an instantiation of the generic [[GraftOps.asofJoin]].
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame =
    GraftOps.asofJoin(
        eventsUs(spark, dir).select("event_id", "user_id", "ts_us"),
        Tables.orders(spark, dir),
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        leftTime = col("ts_us"), rightTime = unix_timestamp(col("o_orderdate")) * 1000000L,
        value = col("o_orderkey"), asCol = "last_order")
      .select("event_id", "user_id", "last_order")
      .orderBy("event_id")

  /** First-touch session attribution: every session (same 30-minute
    * inactivity cut as [[sessionize]]) credits its entire `value` mass
    * to the session's FIRST event_type (winner by (ts, event_id) —
    * deterministic among same-instant events), rolled up to sessions
    * and value per entry touch — the marketing-style "what starts
    * valuable sessions" report. One user-keyed window pass (the
    * sessionize shape) + a per-session rollup + an |event_types|-row
    * rollup; nothing joins events against events.
    */
  def attributionFirstTouch(spark: SparkSession, dir: String): DataFrame =
    withSessionIds(eventsUs(spark, dir))
      .groupBy("user_id", "session_id")
      .agg(min(struct(col("ts_us"), col("event_id"), col("event_type"))).as("first"),
        sum(col("value")).as("sess_value"))
      .groupBy(col("first.event_type").as("touch_type"))
      .agg(count(lit(1)).as("n_sessions"),
        round(sum(col("sess_value")), 2).as("total_value"))
      .orderBy("touch_type")

  def rangeJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days",
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).cast("long"))
      .filter(col("lag_days").between(0, 30))
      .groupBy("lag_days")
      .agg(count(lit(1)).as("n"))
      .orderBy("lag_days")

  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"))
      .orderBy("o_orderstatus")

  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")

  /** Per-user inter-event gap (lag window); -1 for a user's first
    * event so the column stays non-null int64 through the gate.
    */
  def leadLagDelta(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    eventsUs(spark, dir)
      .select(col("event_id"), col("user_id"),
        coalesce(col("ts_us") - lag(col("ts_us"), 1).over(byUser), lit(-1L)).as("delta_us"))
      .orderBy("event_id")
  }

  /** Sliding 1-hour window every 15 minutes: each event lands in 4
    * windows (explode is narrow; the shuffle is the grouped agg).
    */
  def windowSliding(spark: SparkSession, dir: String): DataFrame =
    eventsUs(spark, dir)
      .groupBy(window(timestamp_micros(col("ts_us")), "1 hour", "15 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))
      .orderBy("win_start", "event_type")

  /** Fixed-width histogram of order totals (bin = floor(x / 50000)). */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / 50000).as("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")

  /** Pearson correlation of quantity vs extended price per return
    * flag, computed from EXACT integer moments (quantity as long,
    * price in cents, decimal(38,0) sums) so the double arithmetic is
    * a fixed expression over identical integers on both engines —
    * a direct corr() would aggregate doubles in engine-specific order
    * and break bitwise parity.
    */
  def corrAgg(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val x = round(col("l_quantity")).cast("long")
    val y = round(col("l_extendedprice") * 100).cast("long")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), x.cast(dec).as("x"), y.cast(dec).as("y"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast(dec).as("cn"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("l_returnflag"),
        round(
          (col("cn") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("cn") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("cn") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** HLL++ sketch, AUDITED: the raw estimate isn't cross-engine
    * reproducible, but the sketch's accuracy CONTRACT is — so the key
    * emits the exact count and a within-bound flag
    * (|approx − exact| ≤ 15% of exact ≈ 3σ of the default 5% rsd)
    * and the oracle asserts every group's flag is true. A broken
    * sketch (or a bound regression) now fails the gate instead of
    * hiding behind rows-only. Both aggregates ride the same one
    * shuffle; the sketch is still the 100 TB path (mergeable
    * fixed-size state vs the expanded distinct).
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_suppkey")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .select(col("l_suppkey"), col("n_parts"),
        (abs(col("approx_parts") - col("n_parts")).cast("double") <=
          col("n_parts").cast("double") * 0.15).as("within_bound"))
      .orderBy("l_suppkey")

  /** Exact twin of [[approxDistinct]] — the two-shuffle expanded
    * distinct the sketch replaces (and the oracle-checkable one).
    */
  def exactDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_suppkey")
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_suppkey")

  /** Explicit GROUPING SETS — the general form cube/rollup are
    * special cases of: per-returnflag totals, per-linestatus totals,
    * and the grand total, WITHOUT the (rf, ls) cross cells a CUBE
    * would also compute. At 100 TB skipping unneeded grouping sets is
    * the point: each set is one partial-aggregated pass, so cost is
    * proportional to the sets you actually ask for.
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")

  /** Manual salt treatment for a skewed JOIN key (the join twin of
    * [[Index.wordcountSalted]]'s aggregation salting): the big probe
    * side gets a deterministic salt in [0, 8); the build side is
    * exploded ×8 so every (key, salt) bucket still finds its match.
    * A key whose rows would swamp one task now spreads over 8. The
    * oracle is the UNSALTED join — proving salting never changes the
    * result. (AQE's skew-join split covers sort-merge joins at
    * runtime; explicit salting is the portable fallback and works for
    * aggregations and broadcast joins too.)
    */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val nSalts = 8L
    val l = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_linenumber").cast("long"), lit(nSalts)))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        explode(sequence(lit(0L), lit(nSalts - 1L))).as("salt"))
    l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy("o_orderstatus")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderstatus")
  }

  /** Approximate percentile sketch (GK/KLL-family), AUDITED like
    * [[approxDistinct]]: the sketch values aren't cross-engine
    * reproducible, so the key emits the exact percentiles and a
    * per-quantile within-bound flag (sketch within 1% relative value
    * error of exact — generous against the rank-error contract at
    * accuracy 10000) and the oracle asserts the flags. The sketch
    * stays the 100 TB path: mergeable fixed-size state vs the exact
    * aggregate's full sorted-group materialization.
    */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(expr("approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)").as("pcts"),
        expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("ex"))
      .select(col("o_orderstatus"),
        round(element_at(col("ex"), 1), 2).as("p50"),
        round(element_at(col("ex"), 2), 2).as("p90"),
        round(element_at(col("ex"), 3), 2).as("p99"),
        (abs(element_at(col("pcts"), 1) - element_at(col("ex"), 1)) <=
          element_at(col("ex"), 1) * 0.01).as("p50_ok"),
        (abs(element_at(col("pcts"), 2) - element_at(col("ex"), 2)) <=
          element_at(col("ex"), 2) * 0.01).as("p90_ok"),
        (abs(element_at(col("pcts"), 3) - element_at(col("ex"), 3)) <=
          element_at(col("ex"), 3) * 0.01).as("p99_ok"))
      .orderBy("o_orderstatus")

  /** NTILE quartiles of order totals per status. */
  def ntileQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_orderkey")
  }

  /** Trailing 4-row moving average of revenue per supplier, exact:
    * the window sums integer cents, one double division at the end.
    */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    // rev_cents tie-break: see windowRunning
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("rev_cents"))
      .rowsBetween(-3, Window.currentRow)
    Tables.lineitem(spark, dir)
      .withColumn("rev_cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        round(sum(col("rev_cents")).over(w).cast("double") /
          (count(lit(1)).over(w) * 100), 4).as("ma4_rev"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** Rank-statistics windows: percent_rank and cume_dist of each
    * order's total within its status. Exact rational ratios of row
    * counts, so cross-engine identical after rounding.
    */
  def rankStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_orderkey")
  }

  /** Ordered string aggregation: the sorted distinct line statuses a
    * return flag appears with, as one delimited string per flag.
    */
  def groupConcat(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"))
      .orderBy("l_returnflag")

  /** Relational EXCEPT: customers who ordered, minus customers with an
    * open ('O') order.
    */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  /** Relational INTERSECT (distinct semantics) — customers holding
    * orders in BOTH statuses; with [[setExcept]] completes the set-op
    * family. Plans as a left-semi join over pre-distincted sides.
    */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  /** Funnel analysis with greedy earliest-match semantics: step 1 =
    * a user's first "view"; step 2 = first "click" strictly after
    * that; step 3 = first "purchase" strictly after step 2. Emits
    * (step, event_type, n_users) — the classic conversion funnel.
    * Each step is one key-shuffled aggregation over ONLY its event
    * type's rows (the type filter pushes into the scan), so at 100 TB
    * the funnel costs three filtered aggs, not a per-user event-list
    * assembly.
    */
  /** The greedy earliest-match view→click→purchase chain shared by
    * [[funnelSteps]] (step counts) and [[funnelLatency]] (step
    * delays): t1 = first view, t2 = first click after t1, t3 = first
    * purchase after t2, each per user.
    */
  private def funnelTimes(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    def firstAfter(evType: String, prev: DataFrame, prevCol: String, outCol: String): DataFrame =
      e.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("ts_us") > col(prevCol))
        .groupBy("user_id").agg(min(col("ts_us")).as(outCol))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
    val t2 = firstAfter("click", t1, "t1", "t2")
    val t3 = firstAfter("purchase", t2.select("user_id", "t2"), "t2", "t3")
    (t1, t2, t3)
  }

  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val (t1, t2, t3) = funnelTimes(eventsUs(spark, dir))
    t1.agg(count(lit(1)).as("n_users")).select(lit(1L).as("step"), lit("view").as("event_type"), col("n_users"))
      .unionByName(t2.agg(count(lit(1)).as("n_users"))
        .select(lit(2L).as("step"), lit("click").as("event_type"), col("n_users")))
      .unionByName(t3.agg(count(lit(1)).as("n_users"))
        .select(lit(3L).as("step"), lit("purchase").as("event_type"), col("n_users")))
      .orderBy("step")
  }

  /** Time-to-convert percentiles for the funnel's two legs plus
    * end-to-end — the latency view `funnel_steps`' counts omit (two
    * funnels with equal conversion can hide a 10× gap in how LONG
    * conversion takes). Delays are exact integer microseconds off the
    * same greedy chain as [[funnelSteps]] (shared [[funnelTimes]], so
    * the two reports can never disagree on who converted), and the
    * quartiles are RANK-BASED (the sorted value at rank ⌈p·n⌉ —
    * observed latencies, never interpolated: at 10¹¹-µs magnitudes
    * the two engines' interpolation formulas disagree in the last
    * ulps, and a latency SLO reads better off a real observation
    * anyway). One |converting-users| melt, one leg-partitioned rank
    * window, one 3-group rollup.
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val (t1, t2, t3) = funnelTimes(eventsUs(spark, dir))
    val legs = t1.join(t2.select("user_id", "t2"), "user_id")
      .join(t3, "user_id")
    val melted = legs.select(explode(array(
        struct(lit(1L).as("step"), lit("view_to_click").as("leg"),
          (col("t2") - col("t1")).as("d")),
        struct(lit(2L).as("step"), lit("click_to_purchase").as("leg"),
          (col("t3") - col("t2")).as("d")),
        struct(lit(3L).as("step"), lit("view_to_purchase").as("leg"),
          (col("t3") - col("t1")).as("d")))).as("r"))
      .select(col("r.step").as("step"), col("r.leg").as("leg"), col("r.d").as("d"))
    melted
      .withColumn("rn",
        row_number().over(Window.partitionBy("leg").orderBy("d")).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("leg")))
      .groupBy("step", "leg")
      .agg(max(col("n")).as("n_users"),
        max(when(col("rn") === expr("(n + 3) div 4"), col("d"))).as("q25_us"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("d"))).as("q50_us"),
        max(when(col("rn") === expr("(3 * n + 3) div 4"), col("d"))).as("q75_us"))
      .orderBy("step")
  }

  /** Cohort retention: cohort = a user's first active day (integer
    * day index = ts_us div 86.4e9 — pure integer arithmetic, no
    * calendar functions to disagree cross-engine); for each (cohort,
    * day offset ≤ 7) the count of distinct users active that day.
    * Two key-shuffled aggregations over the distinct (user, day)
    * frame — the activity table is the dedup'd projection, orders of
    * magnitude smaller than the event log at 100 TB.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val days = eventsUs(spark, dir)
      // div, not /: long / long in Spark is DOUBLE division, and a
      // cast-truncated double can land one day off the exact floor
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .distinct()
    val first = days.groupBy("user_id").agg(min(col("day")).as("cohort"))
    days.join(first, "user_id")
      .withColumn("day_offset", col("day") - col("cohort"))
      .filter(col("day_offset") <= 7)
      .groupBy("cohort", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort", "day_offset")
  }


  /** Peak-concurrency sweep line: sessionize (30-min gap), emit
    * (start, +1) / (end+1µs, -1) boundary deltas, net them per
    * timestamp, and prefix-sum over global time order — concurrency(t)
    * = sessions active at t; the curve's max is the capacity-planning
    * peak. The prefix sum is [[GraftOps.runningTotal]]'s two-phase
    * scan (bucketed by day), NOT a single-partition global window —
    * the sweep line stays distributed at any timeline length.
    */
  /** Inter-event gap histogram per user: the distribution the 30-min
    * [[sessionize]] threshold is tuned against — the valley between
    * the within-session and between-session modes is where the gap
    * cutoff belongs. Bucket boundaries are integer microsecond
    * comparisons (no float binning, exact on both engines); the lag
    * runs under the same (user, time) partitioning sessionize uses,
    * and the histogram is a partial-agg rollup to 6 rows.
    */
  def interEventGapHist(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val gaps = eventsUs(spark, dir)
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .withColumn("gap_us", col("ts_us") - col("prev"))
      .withColumn("bucket_id",
        when(col("gap_us") < 60000000L, 0L)
          .when(col("gap_us") < 300000000L, 1L)
          .when(col("gap_us") < 1800000000L, 2L)
          .when(col("gap_us") < 7200000000L, 3L)
          .when(col("gap_us") < 86400000000L, 4L)
          .otherwise(5L))
    val tot = gaps.agg(count(lit(1)).as("n_total"))
    gaps.groupBy("bucket_id").agg(count(lit(1)).as("n_gaps"))
      .crossJoin(broadcast(tot))
      .select(col("bucket_id"),
        element_at(array(lit("lt_1m"), lit("1m_5m"), lit("5m_30m"),
          lit("30m_2h"), lit("2h_24h"), lit("ge_24h")),
          (col("bucket_id") + 1L).cast("int")).as("bucket"),
        col("n_gaps"),
        round(col("n_gaps").cast("double") / col("n_total").cast("double"), 6).as("share"))
      .orderBy("bucket_id")
  }

  def concurrencyPeak(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    val ses = eventsUs(spark, dir)
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("ts_us") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts_us")).as("st"), max(col("ts_us")).as("en"))
    val deltas = ses.select(col("st").as("t"), lit(1L).as("delta"))
      .unionByName(ses.select((col("en") + 1L).as("t"), lit(-1L).as("delta")))
      .groupBy("t").agg(sum(col("delta")).as("delta"))
    GraftOps.runningTotal(deltas, col("t"), col("delta"),
        expr("t div 86400000000"))
      .withColumnRenamed("running", "concurrency")
      .select("t", "delta", "concurrency")
      .orderBy("t")
  }

  /** Join-key skew diagnostics: the 20 heaviest `l_suppkey` values
    * with their row share and multiple-of-mean — the report that
    * decides whether a key needs salting ([[saltedJoin]]) or AQE skew
    * handling before a fact-fact join is launched. One partial-agg
    * shuffle; the mean is a broadcast 1-row aggregate, so the report
    * costs a scan at any corpus size.
    */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).cast("double").as("total"),
      count(lit(1)).cast("double").as("nkeys"))
    counts.crossJoin(broadcast(tot))
      .select(col("l_suppkey"), col("n"),
        round(col("n") / col("total"), 6).as("share"),
        round(col("n") / (col("total") / col("nkeys")), 4).as("x_mean"))
      .orderBy(col("n").desc, col("l_suppkey"))
      .limit(20)
  }

  /** Fixed sample size for [[rangeBoundaries]] — Hadoop InputSampler's
    * `numSamples` knob: the sample is k rows REGARDLESS of table size,
    * so the boundary-design cost is constant at 100 TB. */
  val RangeSampleK = 1024

  /** TotalOrderPartitioner-style range-partition design report — the
    * global-sort knob Hadoop ships as InputSampler+TotalOrderPartitioner
    * and Spark's RangePartitioner re-derives per job: draw a FIXED-SIZE
    * deterministic sample (the [[RangeSampleK]] orders with the smallest
    * salted-md5 key — the `sample_k` bottom-k machinery, which is also
    * what InputSampler's fixed `numSamples` does), pick the 7
    * evenly-spaced sample ELEMENTS at ranks max(1, ⌊k·n/8⌋) as cut points —
    * exactly InputSampler's boundary rule, and pure integer (an
    * interpolated percentile differs between engines in the last ulp)
    * — then assign EVERY row by counting boundaries strictly below its
    * key (ties fall to the lower partition) and report per-partition
    * row counts, share, and actual min/max key. The report answers the 100 TB question
    * "would these sampled cut points balance the full sort?" — a
    * partition with share ≫ 1/8 means the sample missed a hot range.
    * Scan-wise: the sample is TakeOrdered bounded heaps (no shuffle, no
    * global sort, no unpartitioned window — the pre-r10 2% hash-filter
    * sample grew linearly with the table and ranked through ONE
    * row_number partition, a single task sorting ~10⁸ rows at 100 TB);
    * the rank lookup is one sorted-array aggregate over k rows; then one
    * 8-element filter-count per row and one 8-group rollup — the full
    * data is never sorted, which is the point of designing the sort
    * before running it.
    */
  def rangeBoundaries(spark: SparkSession, dir: String): DataFrame = {
    // round BEFORE the long cast: o_totalprice is a parquet double, so
    // price*100 can land an ulp BELOW the integer (308279.04*100 =
    // 30827903.999…) — Spark's cast truncates where DuckDB's rounds,
    // and a one-cent disagreement on a partition-extreme row breaks
    // the hi/lo_cents parity (caught at r10 when the fixed-k sample
    // moved a boundary onto such a row)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val s = o
      .select(col("cents"),
        md5(concat(lit("rbound:"), col("o_orderkey").cast("string"))).as("h"))
      .orderBy("h")
      .limit(RangeSampleK)
    // k is bounded (1024), so the sorted-sample aggregate is a single
    // fixed-size buffer — rank r lives at element_at(cs, r), 1-based
    val bounds = s.agg(sort_array(collect_list(col("cents"))).as("cs"))
      .select(expr("""transform(sequence(1L, 7L),
          k -> element_at(cs, cast(greatest(1L, (cast(size(cs) as bigint) * k) div 8) as int)))""")
        .as("bs"))
    val tot = o.agg(count(lit(1)).cast("double").as("total"))
    o.crossJoin(broadcast(bounds))
      .select(col("cents"),
        size(filter(col("bs"), b => col("cents") > b))
          .cast("long").as("part_id"))
      .groupBy("part_id")
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
      .crossJoin(broadcast(tot))
      .select(col("part_id"), col("n_rows"),
        round(col("n_rows").cast("double") / col("total"), 6).as("share"),
        col("lo_cents"), col("hi_cents"))
      .orderBy("part_id")
  }

  /** RFM customer segmentation — recency (days since last order),
    * frequency (orders), monetary (lifetime spend) with NTILE(4)
    * scores and the concatenated segment code: the classic warehouse
    * marketing rollup. Monetary sums run in DECIMAL so the aggregate
    * is addition-order-free (a double sum would be partial-agg-order
    * dependent); every ntile orders by a rounded/exact key with a
    * custkey tie-break (total order). The three NTILE(4) scores come
    * from ONE [[GraftOps.rangeRankMulti]] call over the per-customer
    * AGGREGATE frame plus the [[ntileFromRank]] arithmetic: the exact
    * ntile, with no unpartitioned window at any cardinality.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmSegmentsOf(Tables.orders(spark, dir))

  def rfmSegmentsOf(o: DataFrame): DataFrame =
    rfmFromCust(
      o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("lastd"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("mdec"))
        .localCheckpoint())
      .orderBy("o_custkey")

  /** RFM scoring off a MATERIALIZED (o_custkey, lastd, frequency, mdec)
    * rollup (a checkpoint, optionally under row-local filters) — split
    * out so [[rfmMigration]] can feed BOTH halves from one combined
    * scan+rollup pass. ONE [[GraftOps.rangeRankMulti]] call ranks all
    * three scores off a single cut-point aggregate, which also counts
    * the customers and finds the horizon (max over per-customer lasts
    * = the global max): recency ascending is last order date
    * descending, so the ranks need no horizon and the order frame is
    * scanned once. (Three chained single-pass calls paid the
    * checkpoint+sample floor three times per half — the 6.4s
    * rfm_migration finding.) The pass values are row-local arithmetic
    * over the checkpoint, so the rank adds no second one.
    */
  private def rfmFromCust(custBase: DataFrame): DataFrame = {
    def score(rank: String): Column = ntileFromRank(4, col(rank), col("nn")).cast("long")
    GraftOps.rangeRankMulti(custBase.withColumn("monetary", col("mdec").cast("double")),
        Seq("__rnr" -> -datediff(col("lastd"), lit("1970-01-01")),
          "__rnf" -> -col("frequency"), "__rnm" -> -col("monetary")),
        col("o_custkey"), materialized = true,
        totals = Seq(count(lit(1)).as("nn"), max(col("lastd")).as("maxd")))
      .select(col("o_custkey"),
        datediff(col("maxd"), col("lastd")).cast("long").as("recency_days"),
        col("frequency"), round(col("monetary"), 2).as("monetary"),
        score("__rnr").as("r_score"), score("__rnf").as("f_score"),
        score("__rnm").as("m_score"))
      .withColumn("segment", concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** RFM segment migration — the longitudinal read [[rfmSegments]]'
    * snapshot cannot give: the order history splits at the rank-based
    * lower-median DISTINCT order date, each half gets its own full
    * RFM segmentation (recency relative to that half's horizon, via
    * the shared [[rfmFromCust]] scoring), and the output is the (segment_from → segment_to)
    * customer transition matrix with 'new'/'churned' absorbing states
    * — the churn-risk flow chart a retention team reads. The
    * date-median window is calendar-bounded; everything else is the
    * RFM machinery twice plus one custkey-keyed full-outer join.
    */
  def rfmMigration(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val dts = o.select(col("o_orderdate").as("d")).distinct()
    val nn = dts.agg(count(lit(1)).as("n"))
    val sp = dts
      .withColumn("rn", row_number().over(Window.orderBy("d")).cast("long"))
      .crossJoin(broadcast(nn))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("d").as("split"))
    // the 1-row split point materializes once — both halves' rollups
    // otherwise re-run its distinct-date lineage
    val oo = o.crossJoin(broadcast(sp.localCheckpoint()))
    // ONE scan+shuffle computes both halves' per-customer rollups
    // (grouped by (custkey, half) — a customer active in both halves
    // yields two rows), checkpointed so the two scoring passes share
    // the materialization instead of each re-running a filtered scan
    // (the 6.4s rfm_migration finding: six rank passes × their own
    // scan+sample floors)
    val rawBoth = oo
      .groupBy(col("o_custkey"),
        (col("o_orderdate") <= col("split")).as("__in_a"))
      .agg(max(col("o_orderdate")).as("lastd"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("mdec"))
      .localCheckpoint()
    def halfCust(inA: Boolean): DataFrame =
      rawBoth.filter(col("__in_a") === inA).drop("__in_a")
    val a = rfmFromCust(halfCust(inA = true))
    val b = rfmFromCust(halfCust(inA = false))
    a.select(col("o_custkey"), col("segment").as("sfrom"))
      .join(b.select(col("o_custkey"), col("segment").as("sto")),
        Seq("o_custkey"), "full_outer")
      .groupBy(coalesce(col("sfrom"), lit("new")).as("seg_from"),
        coalesce(col("sto"), lit("churned")).as("seg_to"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("seg_from", "seg_to")
  }

  /** Gini coefficient of customer revenue concentration — the
    * single-number summary beside [[revenuePareto]]'s decile table
    * (a curve compresses to its area). Everything is INTEGER until
    * the last division: per-customer revenue in cents (bigint), the
    * classic rank-sum identity G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx)
    * over the ascending rank i, with the two big products kept as
    * DECIMAL(38,0) so the numerator survives n·Σx ≈ 10²¹ at 100 TB
    * where a bigint accumulator would wrap. Ties in x are
    * rank-order-free (equal values contribute the same Σi·x under any
    * permutation), so the custkey tie-break is for determinism of the
    * plan, not the answer. The rank is [[GraftOps.rangeRank]]'s
    * range-partitioned two-phase rank, shared with [[revenuePareto]]'s
    * ntile: exactly the global (x, custkey) row_number, with no
    * unpartitioned window.
    */
  def revenueGini(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")).as("x"))
    GraftOps.rangeRank(cust, col("x"), col("o_custkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x")).as("total_cents"),
        sum((col("rn") * col("x")).cast("decimal(38,0)")).as("w"))
      .select(col("n_customers"), col("total_cents"),
        (col("w") * 2 -
          (col("n_customers") + 1).cast("decimal(38,0)") *
            col("total_cents").cast("decimal(38,0)")).cast("decimal(38,0)").as("gini_num"),
        (col("n_customers").cast("decimal(38,0)") *
          col("total_cents").cast("decimal(38,0)")).cast("decimal(38,0)").as("gini_den"))
      .withColumn("gini",
        // same integer round-half-up-at-scale-6 as eventsAutocorr: the two
        // exact DECIMAL operands never touch a float until the ≤10⁶ quotient.
        expr("""cast(case when gini_num < 0
          then -((-gini_num * 2000000 + gini_den) div (2 * gini_den))
          else ((gini_num * 2000000 + gini_den) div (2 * gini_den)) end as double) / 1e6"""))
      // the division above ran on the exact DECIMAL operands; the EMITTED
      // num/den downcast to BIGINT (≈5.6e16 max at gate SFs, < 2^63) —
      // decimal output columns are a cross-engine hash channel
      .withColumn("gini_num", col("gini_num").cast("long"))
      .withColumn("gini_den", col("gini_den").cast("long"))
  }

  /** Year-over-year revenue bridge (waterfall): for every consecutive
    * pair of order years, the revenue delta decomposed into the four
    * customer movements a growth review asks about — `new` (revenue in
    * y+1 only), `churned` (y only, negative), `expansion` /
    * `contraction` (both years, signed delta). Component sums are
    * DECIMAL-exact and add up to exactly total(y+1) − total(y). Shape:
    * one (customer, year) partial-agg rollup, one self-join keyed on
    * (customer, year) — co-partitioned, no extra shuffle — and a
    * ≤|years| broadcast of the consecutive-pair table; the output is
    * |year pairs| × 4 rows.
    */
  def revenueBridge(spark: SparkSession, dir: String): DataFrame = {
    val cy = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("m"))
    val yrs = cy.select(col("yr")).distinct()
    val pairs = yrs.as("ya").join(yrs.as("yb"), col("yb.yr") === col("ya.yr") + 1L)
      .select(col("ya.yr").as("y0"))
    val a = cy.select(col("o_custkey"), col("yr").as("y0"), col("m").as("m0"))
    val b = cy.select(col("o_custkey"), (col("yr") - 1L).as("y0"), col("m").as("m1"))
    val zero = lit(0).cast("decimal(18,2)")
    a.join(b, Seq("o_custkey", "y0"), "full_outer")
      .join(broadcast(pairs), Seq("y0"))
      .select(col("y0"),
        when(col("m0").isNull, lit("new"))
          .when(col("m1").isNull, lit("churned"))
          .when(col("m1") > col("m0"), lit("expansion"))
          .when(col("m1") < col("m0"), lit("contraction"))
          .otherwise(lit("flat")).as("component"),
        (coalesce(col("m1"), zero) - coalesce(col("m0"), zero)).as("delta"))
      .groupBy(col("y0"), col("component"))
      .agg(count(lit(1)).as("n_customers"), sum(col("delta")).as("ddec"))
      .select(col("y0").as("year_from"), (col("y0") + 1L).as("year_to"),
        col("component"), col("n_customers"),
        round(col("ddec").cast("double"), 2).as("amount"))
      .orderBy("year_from", "component")
  }

  /** SQL NTILE(k) recomputed from a global 1-based rank `rn` over `n`
    * rows — the first `n % k` tiles get one extra row, exactly the
    * Spark/DuckDB NTILE contract. Derives tiles from
    * [[GraftOps.rangeRank]] instead of a global window.
    */
  private def ntileFromRank(k: Int, rn: Column, n: Column): Column = {
    // floor() keeps the divisions integral (exact for ranks < 2^53 —
    // far past any customer cardinality)
    val bs = floor(n.cast("double") / k)
    val rem = n.cast("long") % k
    val big = rem * (bs + 1)
    when(rn <= big, floor((rn - 1).cast("double") / (bs + 1)) + 1)
      .otherwise(rem + floor((rn - big - 1).cast("double") / bs) + 1)
  }

  /** Revenue concentration (Pareto) report: customers bucketed into
    * spend deciles (1 = biggest spenders), each decile's revenue
    * share and the cumulative share — "the top 10% of customers carry
    * X% of revenue". Sums are DECIMAL (addition-order-free); the
    * cumulative window runs over the 10-row decile frame, never
    * customers. The deciles are the NTILE(10) derived from
    * [[GraftOps.rangeRank]] on the negated spend + [[ntileFromRank]]:
    * no unpartitioned window, and the customer count and the revenue
    * total come from the rank's own cut-point aggregate.
    */
  def revenuePareto(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("m"))
    GraftOps.rangeRank(base, -col("m"), col("o_custkey"),
        totals = Seq(count(lit(1)).as("nn"), sum(col("m")).cast("double").as("total")))
      .withColumn("decile", ntileFromRank(10, col("rn"), col("nn")).cast("long"))
      .groupBy("decile", "total")
      .agg(count(lit(1)).as("n_customers"), sum(col("m")).as("rev"))
      .select(col("decile"), col("n_customers"),
        (col("rev").cast("double") / col("total")).as("share0"))
      .withColumn("cum0",
        sum(col("share0")).over(Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_customers"),
        round(col("share0"), 4).as("rev_share"),
        round(col("cum0"), 4).as("cum_share"))
      .orderBy("decile")
  }

  /** ABC inventory classification of parts by revenue (the warehouse
    * 70/90 rule): parts rank by lineitem revenue descending, and the
    * cumulative-share boundaries put a part in A (first 70% of
    * revenue), B (to 90%) or C. The class test is INTEGER — cum·10 ≤
    * total·7 on exact cents — so no boundary can flip on one engine
    * only; the one double division per class row is display-only.
    * The rank and the prefix sum run on the |parts| rollup, the same
    * frame family as [[revenuePareto]], as the two-phase
    * [[GraftOps.rangeRank]] + [[GraftOps.runningTotal]] shapes — no
    * unpartitioned window.
    */
  def ordersAbcClass(spark: SparkSession, dir: String): DataFrame = {
    // price(18,2) × (1−disc)(18,2) is EXACT at scale 4, so ×10⁴ is an
    // integer value and the (38,0) cast never rounds — no half-way
    // engine disagreement can exist (units: 10⁻⁴ dollars)
    val pr = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) *
          10000).cast("decimal(38,0)")).cast("decimal(38,0)").as("cents"))
    // rangeRank for the global rank (its cut-point aggregate also
    // sums the total), then runningTotal over 1024-rank blocks for the
    // prefix sum (blocks are non-decreasing in rank — runningTotal's
    // contract)
    GraftOps.runningTotal(
        GraftOps.rangeRank(pr, -col("cents"), col("l_partkey"),
          totals = Seq(sum(col("cents")).cast("decimal(38,0)").as("total"))),
        order = col("rn"), value = col("cents"),
        bucket = expr("(rn - 1) div 1024"))
      .withColumn("abc_class",
        when(col("running") * 10 <= col("total") * 7, lit("A"))
          .when(col("running") * 10 <= col("total") * 9, lit("B"))
          .otherwise(lit("C")))
      .groupBy("abc_class", "total")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("cents")).cast("decimal(38,0)").as("class_rev_e4"))
      // emitted class_rev_e4 is BIGINT (fits at every gate SF); the
      // share division still runs off the exact decimal operands
      .select(col("abc_class"), col("n_parts"),
        col("class_rev_e4").cast("long").as("class_rev_e4"),
        round(col("class_rev_e4").cast("double") / col("total").cast("double"), 6)
          .as("rev_share"))
      .orderBy("abc_class")
  }

  /** Burstiness of per-type event arrivals (Goh & Barabási '08):
    * B = (σ−μ)/(σ+μ) over the inter-event gaps of each event_type —
    * B→−1 periodic, 0 Poisson, →1 bursty; the one number that says
    * whether a stream's load is schedulable or spiky. The n's cancel:
    * B = (√(n·ΣΔ²−(ΣΔ)²) − ΣΔ)/(√(n·ΣΔ²−(ΣΔ)²) + ΣΔ) with every
    * operand under the √ an exact DECIMAL(38,0) (gaps in µs), so the
    * whole statistic is one shared IEEE tree — bitwise cross-engine
    * with no fold. Shape: one (type)-partitioned lag window on the
    * event stream (co-partitioned with its natural key), then a
    * per-type rollup.
    *
    * Operand bound: the n·ΣΔ² product must itself fit DECIMAL(38,0) —
    * n·ΣΔ² ≤ 10³⁸ holds for ~10¹² gaps of up to a full year in µs
    * (3·10¹³), far past any per-type stream (100 TB/day ≈ 10¹¹
    * events/day). Past the bound the engines DIVERGE in failure mode
    * (Spark non-ANSI decimal overflow → NULL; DuckDB HUGEINT →
    * error), so the bound is part of this key's contract rather than
    * a checked runtime error.
    */
  def eventsBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
    val gaps = eventsUs(spark, dir)
      .withColumn("prev", lag(col("ts_us"), 1).over(byType))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("ts_us") - col("prev")).as("g"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("g").cast("decimal(38,0)")).cast("decimal(38,0)").as("s1"),
        sum(col("g").cast("decimal(38,0)") * col("g").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("s2"))
      .select(col("event_type"), col("n").cast("long").as("n_gaps"),
        expr("s1 div n").cast("long").as("mean_gap_us"),
        round((sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double")) -
            col("s1").cast("double")) /
          (sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double")) +
            col("s1").cast("double")), 6).as("burstiness"))
      .orderBy("event_type")
  }

  /** Order seasonality: per (year, month) order counts, revenue
    * (decimal-exact sum) and average order value — the time-series
    * rollup a demand dashboard reads. One partial-agg shuffle over
    * ≤|months| groups; AOV is one double division of exact values.
    */
  def ordersSeasonality(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rdec"))
      .select(col("yr"), col("mo"), col("n_orders"),
        round(col("rdec").cast("double"), 2).as("revenue"),
        round(col("rdec").cast("double") / col("n_orders"), 2).as("avg_order_value"))
      .orderBy("yr", "mo")

  /** Cohort lifetime value: customers grouped by first-order year,
    * each cohort's revenue tracked per calendar year — the LTV matrix
    * ([[retentionCohorts]]' revenue-weighted sibling). The cohort
    * assignment is one partial-agg shuffle; its result joins back on
    * the customer key (AQE broadcasts it at dim scale), and sums are
    * DECIMAL-exact.
    */
  def customerLtvCohort(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cohort = o.groupBy(col("o_custkey"))
      .agg(year(min(col("o_orderdate"))).cast("long").as("cohort"))
    o.join(cohort, "o_custkey")
      .groupBy(col("cohort"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rdec"))
      .select(col("cohort"), col("yr"), col("n_customers"), col("n_orders"),
        round(col("rdec").cast("double"), 2).as("revenue"))
      .orderBy("cohort", "yr")
  }

  /** Daily event-volume anomaly flags: z-score of each day's event
    * count against the corpus mean/stddev, computed from EXACT integer
    * moments (n, Σc, Σc²) so mean, sample variance and every z are
    * single fixed double expressions — bitwise cross-engine, the same
    * moment trick as [[corrAgg]]. The monitoring query an ingestion
    * pipeline alerts on. Over one day, or days that all hold the same
    * count, z is null and no day flags. Daily counts are one
    * partial-agg shuffle; the moment rollup is a broadcast single row.
    */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val m = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
      sum(col("c") * col("c")).as("sxx"))
    daily.crossJoin(broadcast(m))
      .withColumn("mean", col("sx").cast("double") / col("n"))
      // null below 2 days: the sample variance divides by n - 1
      .withColumn("sd", when(col("n") > 1L, sqrt(
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
          (col("n").cast("double") * (col("n") - 1L).cast("double")))))
      // null without spread; a null z never flags
      .withColumn("z", when(col("sd") > 0.0, (col("c") - col("mean")) / col("sd")))
      .select(col("day"), col("c").as("n_events"),
        round(col("mean"), 4).as("mean"),
        round(col("z"), 4).as("z"),
        when(abs(col("z")) >= 2.0, 1L).otherwise(0L).as("is_anomaly"))
      .orderBy("day")
  }

  /** Median-absolute-deviation anomaly flags on daily event volume —
    * the ROBUST twin of [[eventsAnomaly]]'s z-scores: one wild spike
    * inflates the mean AND the σ it is judged by (masking a second
    * spike), while the median and MAD barely move. Both medians are
    * the rank-based LOWER median (the sorted value at rank
    * ⌈n/2⌉ = (n+1) div 2 — pure integer selection; an interpolated
    * percentile's engine-specific last-ulp behavior is exactly what
    * `range_boundaries` had to dodge), so the whole operator is
    * integer arithmetic end to end: flag when |c − med| > 3·MAD.
    * The day frame is one row per calendar day; both rank windows run
    * over it, not the event log.
    */
  def eventsMad(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val nn = daily.agg(count(lit(1)).as("n"))
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame =
      df.withColumn("__rn",
          row_number().over(Window.orderBy(col(v), col("day"))).cast("long"))
        .crossJoin(broadcast(nn))
        .filter(col("__rn") === expr("(n + 1) div 2"))
        .select(col(v).as(out))
    val med = lowerMedian(daily, "c", "med")
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("c") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.crossJoin(broadcast(mad))
      .select(col("day"), col("c").as("n_events"), col("med"), col("mad"),
        when(col("dev") > lit(3L) * col("mad"), 1L).otherwise(0L).as("is_anomaly"))
      .orderBy("day")
  }

  /** Exponentially-weighted moving average of daily event volume
    * (α = 1/4) — the smoother ops dashboards overlay on
    * `events_anomaly`'s raw z-scores: EWMA reacts to sustained shifts
    * and shrugs off single-day spikes, and its α = 1/4, 3/4
    * coefficients are exact binary fractions, so the recursion
    * e_t = α·x_t + (1−α)·e_{t−1} produces identical doubles on both
    * engines when evaluated in the same order (here: one left fold
    * over the day-sorted array; the oracle's recursive CTE replays
    * the same three FLOPs per day). The daily rollup is the only
    * input-scaled work; the fold runs over the |days| frame — at
    * 100 TB/day that is one row per calendar day, not per event.
    */
  def eventsEwma(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val arr = daily.agg(sort_array(collect_list(struct(col("day"), col("c")))).as("ds"))
    arr.select(explode(aggregate(
        slice(col("ds"), lit(2), greatest(size(col("ds")) - 1, lit(0))),
        array(struct(
          element_at(col("ds"), 1)("day").as("day"),
          element_at(col("ds"), 1)("c").as("c"),
          element_at(col("ds"), 1)("c").cast("double").as("e"))),
        (acc, s) => concat(acc, array(struct(
          s("day").as("day"), s("c").as("c"),
          (lit(0.25) * s("c").cast("double") +
            lit(0.75) * element_at(acc, -1)("e")).as("e"))))
      )).as("r"))
      .select(col("r.day").as("day"), col("r.c").as("n_events"),
        round(col("r.e"), 6).as("ewma"))
      .orderBy("day")
  }

  /** CUSUM changepoint statistic on daily event volume — the
    * level-shift detector beside [[eventsAnomaly]]'s per-day z-scores
    * and [[eventsEwma]]'s smoother: a 10% drift too small to flag any
    * single day ACCUMULATES in the one-sided sums until it is
    * unmissable. The textbook recursion S⁺ᵈ = max(0, S⁺ᵈ⁻¹ + (c_d−μ))
    * is replayed on deviations SCALED BY n — s_d = n·c_d − Σc, an
    * integer that sums to zero over the frame — so the whole operator
    * is exact bigint arithmetic with no mean to round (divide any
    * output by n to read it in events/day units). Input-scaled work is
    * the daily rollup alone; the fold is one left pass over the
    * |days|-row array, same shape as [[eventsEwma]]'s (the oracle's
    * recursive CTE replays the identical integer ops).
    */
  def eventsCusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val arr = daily.agg(sort_array(collect_list(struct(col("day"), col("c")))).as("ds"),
      count(lit(1)).as("n"), sum(col("c")).as("t"))
    arr.select(explode(aggregate(
        slice(col("ds"), lit(2), greatest(size(col("ds")) - 1, lit(0))),
        array(struct(
          element_at(col("ds"), 1)("day").as("day"),
          element_at(col("ds"), 1)("c").as("c"),
          (col("n") * element_at(col("ds"), 1)("c") - col("t")).as("s"),
          greatest(lit(0L), col("n") * element_at(col("ds"), 1)("c") - col("t")).as("p"),
          least(lit(0L), col("n") * element_at(col("ds"), 1)("c") - col("t")).as("q"))),
        (acc, e) => concat(acc, array(struct(
          e("day").as("day"), e("c").as("c"),
          (col("n") * e("c") - col("t")).as("s"),
          greatest(lit(0L),
            element_at(acc, -1)("p") + col("n") * e("c") - col("t")).as("p"),
          least(lit(0L),
            element_at(acc, -1)("q") + col("n") * e("c") - col("t")).as("q"))))
      )).as("r"))
      .select(col("r.day").as("day"), col("r.c").as("n_events"),
        col("r.s").as("scaled_dev"), col("r.p").as("cusum_pos"),
        col("r.q").as("cusum_neg"))
      .orderBy("day")
  }

  /** Holt double-exponential smoothing of daily event volume
    * (α = 1/4 level, β = 1/2 trend) — [[eventsEwma]] plus a TREND
    * state, so a steady ramp is tracked instead of lagged and
    * `forecast = level + trend` is a defensible next-day projection
    * (the capacity-planning number the plain EWMA can't give). Both
    * coefficients are exact binary fractions and the recursion
    *   l_t = ¼·x_t + ¾·(l_{t−1} + b_{t−1}),
    *   b_t = ½·(l_t − l_{t−1}) + ½·b_{t−1}   (l_1 = x_1, b_1 = 0)
    * is evaluated as the SAME expression tree on both engines (the
    * oracle's recursive CTE repeats the l_t subexpression verbatim
    * where the fold names it), so every double is bitwise identical
    * before the final display rounding. Scale shape is [[eventsEwma]]'s:
    * input-scaled work is the daily rollup; the fold walks the
    * |days|-row array once.
    */
  def eventsHolt(spark: SparkSession, dir: String): DataFrame =
    holtOf(eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c")))

  /** The Holt fold over any (day, c) daily frame — [[eventsHolt]]'s
    * machinery factored so the streaming forecast monitor can replay
    * it over its day ledger (same fold, same rounding — the two can
    * never drift).
    */
  def holtOf(daily: DataFrame): DataFrame = {
    val arr = daily.agg(sort_array(collect_list(struct(col("day"), col("c")))).as("ds"))
      // empty input → empty output (ANSI element_at(ds, 1) on the
      // 0-element seed array would throw; the streaming monitor's
      // first batch can legitimately be empty)
      .filter(size(col("ds")) > 0)
    def lNext(x: Column, l: Column, b: Column): Column =
      lit(0.25) * x + lit(0.75) * (l + b)
    arr.select(explode(aggregate(
        slice(col("ds"), lit(2), greatest(size(col("ds")) - 1, lit(0))),
        array(struct(
          element_at(col("ds"), 1)("day").as("day"),
          element_at(col("ds"), 1)("c").as("c"),
          element_at(col("ds"), 1)("c").cast("double").as("l"),
          lit(0.0).as("b"))),
        (acc, e) => {
          val (pl, pb) = (element_at(acc, -1)("l"), element_at(acc, -1)("b"))
          val x = e("c").cast("double")
          concat(acc, array(struct(
            e("day").as("day"), e("c").as("c"),
            lNext(x, pl, pb).as("l"),
            (lit(0.5) * (lNext(x, pl, pb) - pl) + lit(0.5) * pb).as("b"))))
        }
      )).as("r"))
      .select(col("r.day").as("day"), col("r.c").as("n_events"),
        round(col("r.l"), 6).as("level"), round(col("r.b"), 6).as("trend"),
        round(col("r.l") + col("r.b"), 6).as("forecast"))
      .orderBy("day")
  }

  /** Holt-Winters additive triple smoothing (period 7) — the seasonal
    * completion of the [[eventsEwma]] → [[eventsHolt]] ladder: level,
    * trend AND a 7-slot seasonal register, so the one-step forecast
    * l + b + s_{t−6} anticipates the weekly cycle [[eventsHolt]]
    * smooths away. Coefficients α=¼, β=½, γ=½ are exact binary
    * fractions; the seed week sets l = mean(x₁..₇) (one IEEE division
    * by 7 — correctly rounded on both engines), b = 0,
    * sᵢ = xᵢ − mean, and from day 8 the recursion
    *   l_t = ¼(x_t − s_{t−7}) + ¾(l_{t−1} + b_{t−1})
    *   b_t = ½(l_t − l_{t−1}) + ½ b_{t−1}
    *   s_t = ½(x_t − l_t) + ½ s_{t−7}
    * is one fold over the day-sorted array, s_{t−7} read 7 entries
    * back in the accumulator; the oracle's recursive CTE carries the
    * seasonal register as an explicit 7-column shift register and
    * repeats the l_t subexpression verbatim where the fold names it,
    * so every double matches bitwise before display rounding. Fewer
    * than 8 days → empty output (no cycle to fit). Scale shape:
    * [[eventsEwma]]'s — daily rollup, then one |days|-array walk.
    */
  def eventsHoltWinters(spark: SparkSession, dir: String): DataFrame =
    holtWintersOf(eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c")))

  def holtWintersOf(daily: DataFrame): DataFrame = {
    val arr = daily.agg(sort_array(collect_list(struct(col("day"), col("c")))).as("ds"))
      .filter(size(col("ds")) >= 8)
    val mean7 = aggregate(slice(col("ds"), 1, 7), lit(0.0),
      (a, e) => a + e("c").cast("double")) / lit(7.0)
    val seed = transform(slice(col("ds"), 1, 7), e => struct(
      e("day").as("day"), e("c").as("c"),
      mean7.as("l"), lit(0.0).as("b"),
      (e("c").cast("double") - mean7).as("s"),
      lit(null).cast("double").as("f")))
    arr.select(explode(aggregate(
        slice(col("ds"), lit(8), greatest(size(col("ds")) - 7, lit(0))),
        seed,
        (acc, e) => {
          val (pl, pb) = (element_at(acc, -1)("l"), element_at(acc, -1)("b"))
          val s7 = element_at(acc, -7)("s")
          val x = e("c").cast("double")
          def lNew = lit(0.25) * (x - s7) + lit(0.75) * (pl + pb)
          concat(acc, array(struct(
            e("day").as("day"), e("c").as("c"),
            lNew.as("l"),
            (lit(0.5) * (lNew - pl) + lit(0.5) * pb).as("b"),
            (lit(0.5) * (x - lNew) + lit(0.5) * s7).as("s"),
            (pl + pb + s7).as("f"))))
        }
      )).as("r"))
      .select(col("r.day").as("day"), col("r.c").as("n_events"),
        round(col("r.l"), 6).as("level"), round(col("r.b"), 6).as("trend"),
        round(col("r.s"), 6).as("seasonal"), round(col("r.f"), 6).as("forecast"))
      .orderBy("day")
  }

  /** Three-way forecast backtest — Holt-Winters vs Holt vs naive
    * carry-forward on the days where all three have a prediction
    * (t ≥ 8, after the HW seed week): the model-selection table that
    * says whether period-7 seasonality EARNS its extra state on this
    * series, via the same skill-score convention as
    * [[eventsForecastEval]] (positive skill_hw_vs_holt = the seasonal
    * register beats plain trend smoothing). All three error streams
    * read the PUBLISHED rounded forecast columns (each already
    * certified bitwise by its own gate key); error sums are plain
    * partial-agg sums.
    */
  def eventsForecastCompare(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val h = eventsHolt(spark, dir)
      .withColumn("fprev", lag(col("forecast"), 1).over(w))
      .withColumn("cprev", lag(col("n_events"), 1).over(w))
    val hw = eventsHoltWinters(spark, dir)
      .select(col("day"), col("forecast").as("fhw"))
    val j = h.join(hw, Seq("day"))
      .filter(col("fprev").isNotNull && col("fhw").isNotNull)
      .select(col("day"),
        abs(col("n_events").cast("double") - col("fprev")).as("eh"),
        abs(col("n_events").cast("double") - col("fhw")).as("ew"),
        abs(col("n_events") - col("cprev")).cast("double").as("en"))
    // a <8-day series leaves no overlap days: n = 0 must publish null
    // MAEs (NaN compares unequal to itself across engines)
    j.agg(sum(col("eh")).as("seh"), sum(col("ew")).as("sew"), sum(col("en")).as("sen"),
        count(lit(1)).cast("double").as("n"))
      .select(col("n").cast("long").as("n_forecasts"),
        when(col("n") > 0, round(col("seh") / col("n"), 6)).as("mae_holt"),
        when(col("n") > 0, round(col("sew") / col("n"), 6)).as("mae_hw"),
        when(col("n") > 0, round(col("sen") / col("n"), 6)).as("mae_naive"),
        when(col("seh") > 0,
          round(lit(1.0) - col("sew") / col("seh"), 6)).as("skill_hw_vs_holt"),
        when(col("sen") > 0,
          round(lit(1.0) - col("sew") / col("sen"), 6)).as("skill_hw_vs_naive"))
  }

  /** One-step-ahead backtest of the [[eventsHolt]] forecast — the
    * "should we trust this projection?" number: for every day t≥2 the
    * PREVIOUS day's published forecast (level+trend, the rounded
    * output column) meets the day's actual count, against the naive
    * carry-forward baseline. Reports MAE for both, MAPE, and the
    * skill score 1 − MAE_holt/MAE_naive (>0 = the model beats
    * persistence — the Hyndman forecasting-textbook acceptance bar).
    * Error sums are plain partial-agg sums; everything else is the
    * Holt fold already certified bitwise by its own key.
    */
  def eventsForecastEval(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val j = eventsHolt(spark, dir)
      .withColumn("fprev", lag(col("forecast"), 1).over(w))
      .withColumn("cprev", lag(col("n_events"), 1).over(w))
      .filter(col("fprev").isNotNull)
      .select(col("day"),
        abs(col("n_events").cast("double") - col("fprev")).as("eh"),
        abs(col("n_events") - col("cprev")).cast("double").as("en"),
        (abs(col("n_events").cast("double") - col("fprev")) /
          col("n_events").cast("double")).as("ph"))
    j.agg(sum(col("eh")).as("seh"), sum(col("en")).as("sen"), sum(col("ph")).as("sph"),
        count(lit(1)).cast("double").as("n"))
      .select(col("n").cast("long").as("n_forecasts"),
        round(col("seh") / col("n"), 6).as("mae_holt"),
        round(col("sen") / col("n"), 6).as("mae_naive"),
        round(col("sph") / col("n") * 100.0, 6).as("mape_holt_pct"),
        // a constant daily series makes every naive error zero; skill
        // is undefined there (null), never -Infinity (oracle mirrors)
        when(col("sen") > 0,
          round(lit(1.0) - col("seh") / col("sen"), 6)).as("skill"))
  }

  /** Lag-1..7 autocorrelation of daily event volume — the
    * seasonality detector beside [[eventsCusum]]'s level shifts (a
    * weekly cycle shows as a lag-7 peak long before a human reads it
    * off the chart). Same integer trick as the CUSUM: deviations are
    * scaled by n (s_d = n·c_d − Σc, exact bigint, mean-free by
    * construction), so r_k = Σ s_d·s_{d+k} / Σ s_d² is a ratio of two
    * exact integers — the n² scale factors cancel — and only the last
    * division is floating point. Products are summed as DECIMAL(38,0)
    * (s ≈ 10¹³ at 100 TB/day squares past bigint). The pair join runs
    * on the |days|-row frame against itself — day+lag is an equi-key,
    * so even a years-long frame is a trivially partitioned join, and
    * missing calendar days simply contribute no pair (the oracle
    * joins identically).
    */
  def eventsAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("t"))
    val s = daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("n") * col("c") - col("t")).as("s"))
    val den = s.agg(
      sum(col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)")).as("den"))
    val lags = spark.range(1, 8).toDF("lag")
    lags.crossJoin(s.select(col("day").as("da"), col("s").as("sa")))
      .join(s.select(col("day").as("db"), col("s").as("sb")),
        col("db") === col("da") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("sa").cast("decimal(38,0)") * col("sb").cast("decimal(38,0)")).as("num"))
      .crossJoin(broadcast(den))
      // internal num/den stay DECIMAL(38,0) (s ≈ 10¹³ squares past
      // bigint at 100 TB) but the EMITTED columns are BIGINT: every
      // gate SF fits comfortably (max ≈ 5.6e16 < 2^63), and a decimal
      // output dtype is a cross-engine hash channel (parquet
      // decimal128 vs DuckDB float64 coercion) even when values match
      .select(col("lag"), col("n_pairs"),
        col("num").cast("long").as("num"), col("den").cast("long").as("den"),
        // round-half-up(num/den, 6) in pure integer arithmetic: the float
        // round() tie-breaks differently across engines at the 7th digit,
        // but floor((2·|num|·10⁶ + den) / 2·den) is exact on both, and the
        // ≤10⁶ quotient divided by 1e6 is the same IEEE double everywhere.
        expr("""cast(case when num < 0
          then -((-num * 2000000 + den) div (2 * den))
          else ((num * 2000000 + den) div (2 * den)) end as double) / 1e6""")
          .as("autocorr"))
      .orderBy("lag")
  }

  /** STL-lite decomposition of daily event volume into trend +
    * weekly seasonal + residual — the chart behind
    * [[eventsDowProfile]]'s single table and [[eventsAutocorr]]'s
    * lag-7 peak: trend is the 7-day centered moving average, seasonal
    * the per-day-of-week mean of the detrended series, residual the
    * remainder. Everything stays integer-exact until the emitted
    * division: detrended values are scaled by 7 (d = 7c − s7, exact),
    * the seasonal mean is the rational Σd/(7·n_dow), and the residual
    * combines over the common denominator 7·n_dow — each emitted
    * value is one round-half-up-at-10⁻⁶ `div` ([[eventsAutocorr]]'s
    * trick), so both engines print identical doubles. Seasonal/trend/
    * residual are null on the ≤6 edge days whose centered window is
    * partial. Products route through DECIMAL(38,0) (exact for
    * n_dow·c ≲ 10³⁴ — centuries of 100 TB/day). Shape: corpus-sized
    * work is the daily rollup; the windows run on the |days| frame
    * (the calendar-bounded global-window family of [[eventsMad]]),
    * and the seasonal table is a 7-row broadcast.
    */
  def eventsStl(spark: SparkSession, dir: String): DataFrame =
    eventsStlOf(eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c")))

  /** The decomposition over any (day, c) daily frame — factored for
    * crafted-series specs (a pure trend+weekly series must decompose
    * to residual exactly 0).
    */
  def eventsStlOf(daily: DataFrame): DataFrame = {
    val w7 = Window.orderBy("day").rangeBetween(-3, 3)
    val wd = daily
      .withColumn("s7", sum(col("c")).over(w7))
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("dow", pmod(col("day"), lit(7)))
    val seas = wd.filter(col("n7") === 7)
      .groupBy("dow")
      .agg(sum((lit(7) * col("c") - col("s7")).cast("decimal(38,0)")).as("a"),
        count(lit(1)).cast("decimal(38,0)").as("b"))
    wd.join(broadcast(seas), Seq("dow"), "left")
      .withColumn("rn",
        expr("7 * b * cast(c as decimal(38,0)) - b * cast(s7 as decimal(38,0)) - a"))
      .select(col("day"), col("c"),
        when(col("n7") === 7,
          expr("cast((s7 * 2000000 + 7) div 14 as double) / 1e6")).as("trend"),
        when(col("n7") === 7, expr("""cast(case when a < 0
          then -((-a * 2000000 + 7 * b) div (14 * b))
          else ((a * 2000000 + 7 * b) div (14 * b)) end as double) / 1e6"""))
          .as("seasonal"),
        when(col("n7") === 7, expr("""cast(case when rn < 0
          then -((-rn * 2000000 + 7 * b) div (14 * b))
          else ((rn * 2000000 + 7 * b) div (14 * b)) end as double) / 1e6"""))
          .as("resid"))
      .orderBy("day")
  }

  /** Seasonal-strength statistic (Hyndman & Athanasopoulos, FPP):
    * F_s = max(0, 1 − Var(resid)/Var(seasonal + resid)) over the STL
    * frame — the single number that says whether [[eventsStl]]'s
    * weekly component is real structure (→1) or noise the
    * decomposition invented (→0), i.e. whether the Holt-Winters
    * register or the plain Holt model deserves the series
    * ([[eventsForecastCompare]] measures the same question
    * empirically). Inputs are the published 6dp STL columns (already
    * bitwise cross-engine); variances use the n·Σx² − (Σx)² form over
    * plain partial-agg sums, rounded to 6dp on output. Null when the deseasonalized variance is zero
    * (a constant series has no strength to measure).
    */
  def eventsSeasonalStrength(spark: SparkSession, dir: String): DataFrame =
    eventsSeasonalStrengthOf(eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c")))

  def eventsSeasonalStrengthOf(daily: DataFrame): DataFrame = {
    val core = eventsStlOf(daily).filter(col("resid").isNotNull)
      .select(col("day"), col("resid").as("r"),
        (col("seasonal") + col("resid")).as("z"))
    core.agg(sum(col("r")).as("sr"), sum(col("r") * col("r")).as("sr2"),
        sum(col("z")).as("sz"), sum(col("z") * col("z")).as("sz2"),
        count(lit(1)).cast("double").as("n"))
      .select(col("n").cast("long").as("n_days"),
        when(col("n") > 0, round(
          (col("n") * col("sr2") - col("sr") * col("sr")) /
            (col("n") * col("n")), 6)).as("var_resid"),
        when(col("n") > 0, round(
          (col("n") * col("sz2") - col("sz") * col("sz")) /
            (col("n") * col("n")), 6)).as("var_deseason"),
        when(col("n") * col("sz2") - col("sz") * col("sz") > 0, round(
          greatest(lit(0.0), lit(1.0) -
            (col("n") * col("sr2") - col("sr") * col("sr")) /
            (col("n") * col("sz2") - col("sz") * col("sz"))), 6))
          .as("seasonal_strength"))
  }

  /** Seasonality-aware anomaly flags: [[eventsMad]]'s robust
    * 3×MAD rule applied to [[eventsStl]]'s RESIDUAL instead of the
    * raw count — a weekly-cyclic series flags Sunday troughs as
    * anomalies under a raw-count threshold, while the residual has
    * the cycle subtracted and only genuine departures remain. Both
    * medians are the rank-based lower median over the emitted 6dp
    * residuals — values already proven identical cross-engine by the
    * events_stl gate, so every downstream comparison operates on
    * bit-equal doubles and needs no further rounding discipline.
    * Edge days without a full STL window are excluded (their residual
    * is undefined). Shape: everything after the daily rollup runs on
    * the |days| frame.
    */
  def eventsStlAnomaly(spark: SparkSession, dir: String): DataFrame =
    eventsStlAnomalyOf(eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c")))

  /** The STL-residual anomaly rule over any (day, c) daily frame —
    * factored so the streaming monitor can replay it over its day
    * ledger (same decomposition, same medians — the two can never
    * disagree).
    */
  def eventsStlAnomalyOf(daily: DataFrame): DataFrame = {
    val core = eventsStlOf(daily).filter(col("resid").isNotNull)
    val nn = core.agg(count(lit(1)).as("n"))
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame =
      df.withColumn("__rn",
          row_number().over(Window.orderBy(col(v), col("day"))).cast("long"))
        .crossJoin(broadcast(nn))
        .filter(col("__rn") === expr("(n + 1) div 2"))
        .select(col(v).as(out))
    val med = lowerMedian(core, "resid", "med")
    val dev = core.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("resid") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.crossJoin(broadcast(mad))
      .select(col("day"), col("c").as("n_events"), col("resid"),
        col("med"), col("mad"),
        when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L).as("is_anomaly"))
      .orderBy("day")
  }

  /** Single change-point detection on daily event volume by exact
    * binary segmentation: the split day minimizing SSE_left +
    * SSE_right, the first recursion step of the classic change-point
    * algorithm (Scott & Knott '74 lineage) and the level-shift
    * LOCATOR beside [[eventsCusum]]'s drift alarm. Everything is
    * integer-exact: SSE = S₂ − S₁²/n is kept as the rational
    * (n·S₂ − S₁²)/n in DECIMAL(38,0), the two sides combine over the
    * common denominator n_L·n_R, and the candidate costs compare as
    * scaled integers (the same round-half-up-at-10⁻⁶ `div` trick as
    * [[eventsAutocorr]]) — no float enters the argmin, so both
    * engines pick the identical split. Shape: the corpus-sized work
    * is the daily rollup; prefix sums and the argmin run on the
    * |days| frame (bounded by the calendar, the documented global
    * window family of [[eventsMad]]).
    */
  def eventsChangepoint(spark: SparkSession, dir: String): DataFrame =
    changepointOf(eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c")))

  /** The exact binary-segmentation split over any (day, c) daily
    * frame — [[eventsChangepoint]]'s machinery factored so the
    * streaming monitor can replay it over its day ledger (same
    * integer argmin, so the two can never disagree).
    */
  def changepointOf(daily: DataFrame): DataFrame = {
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // each operand casts to DECIMAL(38,0) BEFORE multiplying/summing:
    // a long c·c wraps silently past c ≈ 3.0e9/day while the oracle's
    // HUGEINT stays exact — the cross-engine argmin contract requires
    // the Spark side to be exact too
    val pre = daily
      .withColumn("k", count(lit(1)).over(w).cast("decimal(38,0)"))
      .withColumn("s1", sum(col("c").cast("decimal(38,0)")).over(w).cast("decimal(38,0)"))
      .withColumn("s2",
        sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)"))
          .over(w).cast("decimal(38,0)"))
    val tot = pre.agg(max(col("k")).as("n"), max(col("s1")).as("t1"),
      max(col("s2")).as("t2"))
    val cand = pre.crossJoin(broadcast(tot))
      .filter(col("k") < col("n"))
      .select(col("day").as("split_day"), col("k"), col("n"), col("t1"), col("t2"),
        (col("k") * col("s2") - col("s1") * col("s1")).as("al"),
        ((col("n") - col("k")) * (col("t2") - col("s2")) -
          (col("t1") - col("s1")) * (col("t1") - col("s1"))).as("ar"))
      .select(col("split_day"), col("k"), col("n"), col("t1"), col("t2"),
        (col("al") * (col("n") - col("k")) + col("ar") * col("k")).as("num"),
        (col("k") * (col("n") - col("k"))).as("den"))
      .withColumn("cost_micro",
        expr("(num * 2000000 + den) div (2 * den)").cast("long"))
    cand
      .withColumn("rn",
        row_number().over(Window.orderBy(col("cost_micro"), col("split_day"))))
      .filter(col("rn") === 1)
      .withColumn("baseline_micro",
        expr("""((n * t2 - t1 * t1) * 2000000 + n) div (2 * n)""").cast("long"))
      .select(col("n").cast("long").as("n_days"), col("split_day"),
        col("k").cast("long").as("n_left"),
        (col("n") - col("k")).cast("long").as("n_right"),
        col("cost_micro"), col("baseline_micro"),
        (col("baseline_micro") - col("cost_micro")).as("gain_micro"))
  }

  /** TPC-H Q6 — the forecast-revenue-change filter-agg, and the
    * pushdown showcase: every predicate (shipdate year, discount band,
    * quantity cap) reaches the parquet scan as a PushedFilter over a
    * 4-column ReadSchema, so at 100 TB the scan skips whole row groups
    * on column statistics before any Spark code runs. The revenue sum
    * multiplies DECIMAL(18,2) operands — integer-scaled arithmetic, so
    * the aggregate is addition-order-free and bitwise cross-engine.
    */
  def q6Revenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
        // no round(_, 2) after the double cast: rounding a double at a
        // half-cent tie is engine-specific; the decimal sum is already
        // exact and its nearest-double cast is deterministic
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).cast("double").as("revenue"))

  /** OHLC bars: per (event_type, hour) the opening/closing `value`
    * (first/last by the total order (ts_us, event_id)) plus high/low/
    * count — the time-series downsampling shape every metrics store
    * runs. One shuffle on the composite bar key; open/close come from
    * rank-1 rows of the two directed windows (values pass through
    * untouched, so parity is bitwise), high/low/count are partial aggs.
    */
  def eventsOhlc(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(spark, dir)
      .select(col("event_type"), expr("ts_us div 3600000000").as("hour"),
        col("ts_us"), col("event_id"), col("value"))
    val asc = Window.partitionBy("event_type", "hour")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val desc = Window.partitionBy("event_type", "hour")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    ev.withColumn("ra", row_number().over(asc))
      .withColumn("rd", row_number().over(desc))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n_events"),
        max(when(col("ra") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rd") === 1, col("value"))).as("close"))
      .orderBy("event_type", "hour")
  }

  /** Day-of-week volume profile: per epoch-day-mod-7 slot the active
    * day count, event total, mean events/day and share of all traffic
    * — the decomposition table behind [[eventsAutocorr]]'s lag-7 spike
    * (autocorrelation detects the weekly cycle; this quantifies its
    * shape for capacity planning). Integer end-to-end until the two
    * final divisions: one (day) rollup, one 7-row regroup.
    */
  def eventsDowProfile(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsUs(spark, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val tot = daily.agg(sum(col("c")).as("t"))
    daily.groupBy((col("day") % 7L).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"))
      .crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"), col("n_events"),
        round(col("n_events").cast("double") / col("n_days").cast("double"), 4)
          .as("avg_per_day"),
        round(col("n_events").cast("double") / col("t").cast("double"), 4)
          .as("share"))
      .orderBy("dow")
  }

  /** Day-granular retention curve: the fraction of ALL users active
    * again exactly k days after their first activity (k = 1..14) —
    * the product-analytics decay curve beside [[retentionCohorts]]'
    * year × year order matrix and [[dauStickiness]]' DAU/WAU ratio.
    * The (user, day) distinct is the one heavy shuffle (shared shape
    * with dau_stickiness); first-day assignment joins back on the
    * user key, and the curve is a ≤14-row rollup. Integer end-to-end
    * until the final share division.
    */
  def retentionCurve(spark: SparkSession, dir: String): DataFrame = {
    val days = eventsUs(spark, dir)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .distinct()
    val first = days.groupBy("user_id").agg(min(col("day")).as("d0"))
    val nUsers = first.agg(count(lit(1)).as("n_users"))
    days.join(first, "user_id")
      .select(col("user_id"), (col("day") - col("d0")).as("k"))
      .filter(col("k").between(1L, 14L))
      .groupBy("k").agg(countDistinct(col("user_id")).as("n_active"))
      .crossJoin(broadcast(nUsers))
      .select(col("k").as("day_offset"), col("n_active"), col("n_users"),
        round(col("n_active").cast("double") / col("n_users").cast("double"), 4)
          .as("retention"))
      .orderBy("day_offset")
  }

  /** DAU/WAU stickiness: daily actives joined to their calendar week's
    * weekly actives (day/week = exact integer division of epoch days —
    * `div`, never `/`). Both sides are exact distinct-user rollups of
    * the same (user, day) frame; the ratio is one double division.
    * The DAU-side distinct pre-shrinks to one row per (user, day), so
    * at 100 TB the heavy shuffle happens once and both rollups reuse it.
    */
  def dauStickiness(spark: SparkSession, dir: String): DataFrame = {
    val days = eventsUs(spark, dir)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .distinct()
    val dau = days.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = days.select(col("user_id"), expr("day div 7").as("week")).distinct()
      .groupBy("week").agg(count(lit(1)).as("wau"))
    dau.withColumn("week", expr("day div 7"))
      .join(broadcast(wau), "week")
      .select(col("day"), col("dau"), col("week"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 4).as("stickiness"))
      .orderBy("day")
  }

  /** Decimal-exact line revenue `extprice · (1 − discount)` — the
    * integer-scaled arithmetic both engines share bit-for-bit.
    */
  private def lineRevenueDec =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1.0).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))

  /** Q9-flavored product-line report: revenue per (brand, ship year)
    * via a BROADCAST join of the part dimension into the lineitem
    * scan — the dimension is keys × brands (tiny at any SF), so the
    * fact table never shuffles for the join; the only exchange is the
    * final (brand, year) rollup of partial aggregates.
    */
  def partBrandRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(lineRevenueDec).cast("double").as("revenue"))
      .orderBy("p_brand", "ship_year")

  /** Q7-flavored trade matrix: revenue per (supplier nation, ship
    * year). Two broadcast dimension hops (supplier → nation) into the
    * fact scan, one rollup shuffle — the snowflake pattern at 100 TB:
    * dimensions broadcast, facts stay put.
    */
  def nationTradeMatrix(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(lineRevenueDec).cast("double").as("revenue"))
      .orderBy("n_name", "ship_year")

  /** Calendar gap-fill: daily order counts densified over the full
    * [min, max] date span so zero-order days appear explicitly — the
    * densification every time-series chart/model needs before
    * windowing. The calendar generates from a 1-row bounds aggregate
    * (`sequence` of epoch days — no driver action, no data-dependent
    * skew), and the left join back to the daily rollup is
    * calendar × 1: at 100 TB the heavy side was already reduced to
    * one row per day by the first partial agg.
    */
  def ordersGapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val cal = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    cal.join(daily, Seq("day"), "left")
      .select(
        date_format(date_add(lit("1970-01-01").cast("date"), col("day").cast("int")),
          "yyyy-MM-dd").as("order_date"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("order_date")
  }

  /** Market-basket association: top-20 part pairs by LIFT
    * (P(a,b) / (P(a)·P(b)) over order baskets, support ≥ 3 orders) —
    * the association-rule mining shape (Apriori's pair stage) at
    * engine level. The pair stream is an order-keyed self-join of the
    * distinct basket table, so its size is Σ_orders k² (k = basket
    * width, ~4 here), never |parts|²; supports and lift are exact
    * integer counts and one double ratio, partial-agg friendly
    * everywhere. At 100 TB the only skew risk is a mega-basket, which
    * the distinct-ification and AQE absorb.
    *
    * The distinct basket frame feeds FOUR branches (the corpus count,
    * the per-part supports and both self-join sides); left as a plain
    * subtree the pair branch recomputes the scan+distinct under its
    * own projection (ReusedExchange only dedupes identical exchanges),
    * so the frame is materialized ONCE via localCheckpoint — the
    * [[Index.rankerEval]] treatment (6.6s → ~2s at sf0.1).
    */
  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint() // one scan+distinct, 4 consumers
    val nDf = b.agg(countDistinct(col("l_orderkey")).cast("double").as("n"))
    val pa = b.groupBy(col("l_partkey")).agg(count(lit(1)).as("na"))
    val pairs = b.as("x").join(b.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("part_a"), col("y.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 3)
    pairs
      .join(broadcast(pa.select(col("l_partkey").as("part_a"), col("na"))), "part_a")
      .join(broadcast(pa.select(col("l_partkey").as("part_b"), col("na").as("nb"))), "part_b")
      .crossJoin(broadcast(nDf))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round(col("n_ab").cast("double") * col("n") /
          (col("na").cast("double") * col("nb").cast("double")), 4).as("lift"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** Q4-flavored late-shipment report: order count per priority class
    * among orders with at least one lineitem shipped > 60 days after
    * the order date — the EXISTS-correlated-subquery shape, planned as
    * one LEFT SEMI join with a compound (key equality + range)
    * condition so the fact table streams through a single probe; the
    * priority rollup is a 5-row partial agg. At 100 TB the semi-join
    * shuffles on the order key once and nothing is duplicated by
    * multi-match orders (semi, not inner).
    */
  def q4Priority(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    Tables.orders(spark, dir)
      .join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Trailing 30-day revenue per supplier via a RANGE window frame
    * (29 preceding days .. current, on the integer day key) over the
    * per-(supplier, day) daily rollup — the time-based frame shape
    * ROWS frames can't express when days are missing. Revenue sums
    * are DECIMAL inside the window (addition-order-free exactness),
    * cast to double only at output. One rollup shuffle + one window
    * shuffle, both keyed on the supplier.
    */
  def windowRangeRev(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(sum(lineRevenueDec).as("rev_dec"))
    val w = Window.partitionBy("l_suppkey").orderBy("day").rangeBetween(-29, 0)
    daily
      .withColumn("rev30", sum(col("rev_dec")).over(w).cast("double"))
      .select(col("l_suppkey"), col("day"),
        col("rev_dec").cast("double").as("rev_day"), col("rev30"))
      .orderBy("l_suppkey", "day")
  }

  /** Q10-flavored returned-item report: revenue lost to returns per
    * customer (l_returnflag = 'R'), top 20 — the flag filter pushes
    * into the fact scan, the customer dimension broadcasts, and the
    * rollup is decimal-exact. The classic "who returns the most"
    * triage view.
    */
  def q10Returns(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_items"),
        sum(lineRevenueDec).cast("double").as("lost_revenue"))
      .orderBy(col("lost_revenue").desc, col("c_custkey"))
      .limit(20)

  /** First-order Markov transitions over each user's time-ordered
    * event stream: P(next event type | current) from exact pair
    * counts — the navigation model behind funnel design and
    * next-event prediction baselines. One lead window per user (the
    * sessionize shuffle) + a 9-cell rollup; probabilities are single
    * integer divisions.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy("from_type").agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Q13-flavored customer order-count distribution: orders per
    * customer (INCLUDING zero-order customers via the left join),
    * then customers per order count — the classic double aggregation.
    * Two shuffles, both partial-agg-friendly; the second groups a
    * ≤ max-order-count-row frame. At 100 TB the left join shuffles on
    * custkey with AQE skew handling; no dimension is large enough to
    * matter beyond it.
    */
  def q13Custdist(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select("c_custkey")
      .join(Tables.orders(spark, dir).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Q18-flavored large-volume orders: orders whose total lineitem
    * quantity exceeds 250, with their customer — the group-HAVING-
    * then-rejoin shape. The quantity rollup is one partial-agg
    * shuffle on orderkey; the surviving order set is tiny (0.1% of
    * orders), so both enrichment joins stream it against broadcast /
    * AQE-chosen sides. Quantity sums are decimal-exact.
    */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty"))
      .filter(col("total_qty") > 250)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("total_qty").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q22-flavored idle-capital report: customers with no RECENT
    * orders (none since 2000-01-01 — every customer in this corpus
    * has SOME order, so classic Q22's never-ordered set is empty)
    * whose balance exceeds the positive-balance average, rolled up
    * per market segment. The average threshold is applied WITHOUT a
    * division — `bal · n > total` on decimals — so the comparison is
    * exact on both engines (a double-average boundary tie could
    * diverge). The date predicate pushes into the orders scan BEFORE
    * the anti-join, so the join's build side is only the recent
    * custkey set; + a 1-row broadcast threshold + a 5-row rollup.
    */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val pos = cust.filter(col("c_acctbal") > 0)
      .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("tot"),
        count(lit(1)).as("n"))
    cust.join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01")).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(pos))
      .filter(col("c_acctbal").cast("decimal(18,2)") * col("n") > col("tot"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_custs"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** Q8-flavored market share: one nation's share of STANDARD-part
    * revenue per order year — the two-level conditional-share shape
    * over a 4-join star. Part filter broadcast into the fact scan
    * first (kills most rows before the wide joins), customer and
    * nation dims broadcast; decimal-exact sums, one double division
    * per year row.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_type") === "STANDARD").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
          .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
          .select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        sum(when(col("n_name") === "NATION_7", lineRevenueDec)
          .otherwise(lit(0).cast("decimal(18,2)"))).as("nat_dec"),
        sum(lineRevenueDec).as("tot_dec"))
      .select(col("order_year"),
        col("nat_dec").cast("double").as("nation_revenue"),
        col("tot_dec").cast("double").as("total_revenue"),
        round(col("nat_dec").cast("double") / col("tot_dec").cast("double"), 6)
          .as("mkt_share"))
      .orderBy("order_year")

  /** Q17-flavored small-quantity revenue: for one brand's parts, the
    * revenue sitting in lineitems below 20% of their part's average
    * quantity (the "what would we lose by dropping small orders"
    * probe). The 0.2·avg threshold is division-free decimal
    * arithmetic (`qty · 5 · n < total`), the per-part stats frame is
    * |brand parts| rows (broadcast back), and the final number is one
    * double division by 7.
    */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_brand") === "Brand#1").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
    val stats = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
        count(lit(1)).as("nq"))
    li.join(broadcast(stats), col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast("decimal(18,2)") * lit(5) * col("nq") < col("sq"))
      .agg(count(lit(1)).as("n_items"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0)
          .as("avg_yearly"))
  }

  /** Q15-flavored top supplier: revenue per supplier over one quarter,
    * then every supplier achieving the maximum (ties intact — why the
    * classic query is a view + equality, not a LIMIT 1). The date
    * predicate pushes to the scan; the max is a 1-row broadcast and
    * the equality is DECIMAL-exact, so no double tie can diverge
    * cross-engine. One partial-agg shuffle on suppkey.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy("l_suppkey")
      .agg(sum(lineRevenueDec).as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** Q19-flavored disjunctive-predicate revenue: three (brand,
    * quantity-range) arms OR-ed together — the shape that punishes
    * engines which can't evaluate a disjunction over joined columns
    * without exploding it. Part dim broadcast; the whole disjunction
    * is one codegen'd filter over the joined row; decimal-exact sums.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30)))
      .agg(count(lit(1)).as("n_items"),
        sum(lineRevenueDec).cast("double").as("revenue"))

  /** Top 3-step event PATHS — [[eventTransitions]]' higher-order
    * sibling and the funnel's data-driven generalization: instead of
    * checking one hypothesized view→click→purchase sequence, rank the
    * paths users actually take (sequence mining's length-3 instance).
    * Two lead windows over the same per-user sort (one shuffle), a
    * ≤ |types|³ rollup, bounded top-20. Counts are exact integers.
    */
  def eventPathsTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
        col("e3").as("step3"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  /** Q14-flavored promotion effect: per ship month, the percentage of
    * revenue from PROMO-type parts — part dim broadcast into the fact
    * scan, decimal-exact sums, ONE double division at the end (the
    * conditional-aggregation share pattern). */
  def q14Promo(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", lineRevenueDec)
          .otherwise(lit(0).cast("decimal(18,2)"))).as("promo_dec"),
        sum(lineRevenueDec).as("total_dec"))
      .select(col("ship_month"),
        col("promo_dec").cast("double").as("promo_revenue"),
        col("total_dec").cast("double").as("total_revenue"),
        round(lit(100.0) * col("promo_dec").cast("double") /
          col("total_dec").cast("double"), 4).as("promo_pct"))
      .orderBy("ship_month")

  /** Q7-flavored bilateral trade volume: revenue flowing between TWO
    * nations (supplier side vs customer side), per ship year — the
    * two-role nation join Q7 is famous for. Plan shape: the supplier
    * leg is filtered to the two nations FIRST and broadcast into the
    * lineitem scan (kills 23/25 of fact rows before anything wide),
    * the customer leg filters the same way before the orders join,
    * and the cross-nation constraint (`supp ≠ cust`) is a codegen'd
    * filter over the joined row. No nation ever shuffles.
    */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val n2 = Tables.nation(spark, dir)
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select("n_nationkey", "n_name")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(n2), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(n2), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(lineRevenueDec).cast("double").as("volume"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** Q2-flavored min-cost supplier: for every size-19 part, the
    * supplier with the LOWEST total supply cost (decimal-exact sums;
    * suppkey tie-break) — the correlated-min-subquery shape expressed
    * as one window over the (part, supplier) rollup. The part filter
    * broadcasts into the fact scan before the rollup, so the windowed
    * frame is |size-19 parts| × |their suppliers|, not the corpus.
    */
  def q2MincostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val cost = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_size") === 19).select("p_partkey", "p_name")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("supply_cost"))
    val w = Window.partitionBy("p_partkey").orderBy(col("supply_cost"), col("l_suppkey"))
    cost.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(broadcast(Tables.supplier(spark, dir)
          .select("s_suppkey", "s_name", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("supply_cost").cast("double").as("supply_cost"))
      .orderBy(col("supply_cost").desc, col("p_partkey"))
      .limit(100)
  }

  /** Q12-flavored shipping-delay report: lineitems bucketed FAST/SLOW
    * by days between order and ship date, counting high- vs
    * low-priority order lines per bucket (Q12's CASE-pivot on
    * o_orderpriority, with delay class standing in for ship mode —
    * this corpus has no l_shipmode). One fact-fact equi-join on
    * orderkey (AQE-planned) and a 2-row conditional rollup; the
    * datediff threshold is integer-exact on both engines.
    */
  def q12ShipDelay(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
      .join(Tables.orders(spark, dir)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(when(datediff(col("l_shipdate"), col("o_orderdate")) > 60, "SLOW")
        .otherwise("FAST").as("delay_class"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("delay_class")

  /** Q16-flavored supplier variety: how many DISTINCT suppliers have
    * shipped each (brand, type, size) slice of the selected part
    * sizes, excluding one brand — Q16's supplier-diversity shape with
    * the lineitem relation standing in for partsupp (this corpus has
    * no partsupp table). The part predicate broadcasts into the fact
    * scan; count-distinct is Spark's two-phase exact distinct
    * aggregate (partial dedup map-side, no all-pairs anything).
    */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_size").isin(1, 9, 19, 23) && col("p_brand") =!= "Brand#5")
          .select("p_partkey", "p_brand", "p_type", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))

  /** Q21-flavored sole-late-supplier report: suppliers who were the
    * ONLY late shipper (> 60 days after order) on a finished
    * multi-supplier order — Q21's exists/not-exists pair expressed as
    * two per-order `collect_set` WINDOW aggregates (`n_supp > 1 AND
    * n_late = 1`) evaluated in the SAME pass as the fact-fact join:
    * the window partitions on the join key, so it reuses the join's
    * orderkey exchange (one sort, zero extra shuffles) and the join
    * itself runs ONCE — vs the groupBy-then-rejoin shape, which
    * recomputes the join on both branches and shuffles three times.
    * The set buffers are bounded by suppliers-per-order (single
    * digits). Supplier names broadcast at the end, after the result
    * is |suppliers| rows.
    */
  /** Per-supplier fulfillment profile — the operations table behind
    * [[q21LateSupplier]]'s blame query: order-to-ship delay stats
    * (mean in exact 10⁻⁴-day units via integer division, max) and the
    * late-share (>60d, the Q12/Q21 lateness convention) for every
    * supplier. Day deltas are exact integers, so the mean needs no
    * float sum; the rollup is |suppliers|-sized with the name table
    * broadcast.
    */
  def supplierLeadTime(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay", datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("delay")).as("sd"),
        max(col("delay")).as("max_delay_days"),
        sum(when(col("delay") > 60, 1L).otherwise(0L)).as("n_late"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("n_items"),
        expr("cast((sd * 10000) div n_items as double) / 1e4").as("avg_delay_days"),
        col("max_delay_days"),
        expr("cast((n_late * 10000) div n_items as double) / 1e4").as("late_share"))
      .orderBy("s_name")

  /** Discount-band demand lift — the pricing read beside
    * [[q6Revenue]]'s what-if: per discount band (per-cent steps),
    * item count, average quantity, and the lift of that average over
    * the zero-discount baseline — whether discounts actually move
    * volume. Quantities are integral doubles (sums exact below 2⁵³,
    * order-free); the averages and the lift are exact integer ratios
    * in 10⁻⁴ units, so no float division can disagree. The lift
    * numerator qsum·n0·10⁴ passes ~7.6·10²⁰ around sf100 — past
    * bigint, where Spark's non-ANSI multiply wraps silently while
    * DuckDB errors — so both products route through DECIMAL(38,0)
    * (HUGEINT on the oracle side), the [[eventsAutocorr]] treatment.
    * One |bands|-row rollup plus a 1-row broadcast baseline.
    */
  def discountLift(spark: SparkSession, dir: String): DataFrame = {
    val bands = Tables.lineitem(spark, dir)
      .select((round(col("l_discount") * 100, 0)).cast("long").as("band"),
        col("l_quantity"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).cast("long").as("qsum"))
    val base = bands.filter(col("band") === 0)
      .select(col("n_items").as("n0"), col("qsum").as("q0"))
    bands.crossJoin(broadcast(base))
      .select(col("band"), col("n_items"),
        expr("cast((qsum * 10000) div n_items as double) / 1e4").as("avg_qty"),
        // lift = (qsum/n) / (q0/n0) = qsum·n0 / (n·q0), exact 1e-4 units;
        // both products DECIMAL(38,0) so the numerator survives past 2^63
        when(col("q0") > 0,
          expr("""cast((cast(qsum as decimal(38,0)) * cast(n0 as decimal(38,0))
            * 10000) div (cast(n_items as decimal(38,0)) * cast(q0 as decimal(38,0)))
            as double) / 1e4"""))
          .as("lift_vs_zero"))
      .orderBy("band")
  }

  def q21LateSupplier(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        (datediff(col("l_shipdate"), col("o_orderdate")) > 60).cast("int"))
      .withColumn("ns", size(collect_set(col("l_suppkey")).over(w)))
      .withColumn("nl",
        size(collect_set(when(col("late") === 1, col("l_suppkey"))).over(w)))
      .filter(col("late") === 1 && col("ns") > 1 && col("nl") === 1)
      .select("l_orderkey", "l_suppkey").distinct()
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Event throttle: keep an event only when its (user, event_type)
    * stream was quiet for ≥ 10 minutes BEFORE it — the gap rule
    * (distance to predecessor), i.e. the window-expressible batch
    * sibling of the streaming greedy debounce in
    * [[graft.streaming.Stream.throttle]] (greedy suppression measures
    * from the last KEPT event instead; the two agree whenever
    * suppressed events don't chain). One lag window over the per-key
    * sort — same shuffle key as sessionize, no state beyond one row.
    */
  def windowThrottle(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_us"), col("event_id"))
    eventsUs(spark, dir)
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .filter(col("prev").isNull || col("ts_us") - col("prev") >= 600000000L)
      .select("event_id", "user_id", "event_type", "ts_us")
      .orderBy("event_id")
  }

  /** Time-weighted average value per (day, event_type) — TWAP, the
    * integral the OHLC bars can't give you: each observation weighted
    * by how long it HELD (interval to the next event), so a value
    * that sat all afternoon counts accordingly. One lead window over
    * the per-(day,type) sort; the Σ value·dt numerator is a plain
    * partial-agg sum, the Σ dt denominator an exact integer sum.
    */
  def eventsTwap(spark: SparkSession, dir: String): DataFrame = {
    val df = eventsUs(spark, dir)
      .withColumn("day", expr("ts_us div 86400000000"))
    val w = Window.partitionBy("day", "event_type")
      .orderBy(col("ts_us"), col("event_id"))
    val iv = df
      .withColumn("dt", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dt").isNotNull)
    iv.groupBy("day", "event_type")
      .agg(sum(col("value") * col("dt").cast("double")).as("num"),
        count(lit(1)).as("n_intervals"), sum(col("dt")).as("den"))
      .select(col("day"), col("event_type"), col("n_intervals"),
        round(col("num") / col("den").cast("double"), 6).as("twap"))
      .orderBy("day", "event_type")
  }

  /** Q11-flavored important-parts report: parts whose traded value
    * through NATION_3's suppliers exceeds 0.02% of that nation's
    * total — the group-HAVING-against-a-GLOBAL-aggregate shape Q11
    * is famous for. The global total is a 1-row broadcast and the
    * fraction test is DIVISION-FREE decimal arithmetic
    * (`value · 5000 > total`; the fraction scales with SF exactly as Q11's own spec scales its threshold), so the cross-engine compare is exact
    * at the boundary. Supplier dim filtered-then-broadcast into the
    * fact scan first; one partkey rollup shuffle.
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
          .join(broadcast(Tables.nation(spark, dir)
              .filter(col("n_name") === "NATION_3").select("n_nationkey")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          col("l_quantity").cast("decimal(18,2)")).as("val"))
    val per = li.groupBy("l_partkey")
      .agg(sum(col("val")).as("pvalue"))
    val tot = per.agg(sum(col("pvalue")).as("total"))
    per.crossJoin(broadcast(tot))
      .filter(col("pvalue") * lit(5000) > col("total"))
      .select(col("l_partkey").as("p_partkey"),
        col("pvalue").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  /** Q9-flavored product-profit report: profit per (supplier nation,
    * ship year) for one part family ('ring' parts), where profit is
    * `extprice·(1−disc) − retailprice·qty/10` — the corpus has no
    * partsupp/supplycost, so one tenth of the part's retail price
    * stands in as unit cost (same report shape, same join tree as
    * Q9). Cost decimals: retailprice has 1 decimal and qty is
    * integral, so `retailprice·qty` is exact in decimal(18,2) and
    * the /10 is decimal scaling, not float division. Both dimension
    * hops (part-family filter, supplier→nation) BROADCAST into the
    * fact scan; one (nation, year) rollup shuffle — at 100 TB the
    * lineitem never moves for the joins.
    */
  def q9Profit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_name").contains("ring"))
          .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(lineRevenueDec -
            (col("p_retailprice").cast("decimal(18,2)") *
              col("l_quantity").cast("decimal(18,2)") /
              lit(10).cast("decimal(18,0)")).cast("decimal(18,2)"))
          .cast("double").as("profit"))
      .orderBy("nation", "ship_year")

  /** Q20-flavored concentrated-supply report: suppliers holding an
    * OUTSIZED share of a part family's flow — (supplier, part) pairs
    * whose shipped quantity exceeds 2× the part's per-supplier
    * average, rolled up to the supplier with the count of such parts
    * (Q20's correlated `availqty > 0.5·sum(qty)` subquery,
    * re-expressed as a per-part stats rejoin). Division-free at the
    * boundary: `qty_sp · n_suppliers > 2 · tot_p` on decimal×bigint
    * products. The per-part stats frame is |family parts| rows —
    * broadcast back into the pair rollup; the supplier dim broadcasts
    * for the name/nation decoration. Two shuffles total (pair rollup,
    * supplier rollup) regardless of SF.
    */
  def q20ExcessSupply(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_name").contains("widget")).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty_sp"))
    val perPart = pairs.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("qty_sp")).as("tot_p"),
        count(lit(1)).cast("decimal(18,0)").as("n_sup"))
    pairs
      .join(broadcast(perPart), col("l_partkey") === col("pk"))
      .filter(col("qty_sp") * col("n_sup") > col("tot_p") * lit(2).cast("decimal(18,0)"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_conc_parts"),
        sum(col("qty_sp")).cast("double").as("conc_qty"))
      .join(broadcast(Tables.supplier(spark, dir)
          .select("s_suppkey", "s_name", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name").as("nation"),
        col("n_conc_parts"), col("conc_qty"))
      .orderBy(col("n_conc_parts").desc, col("s_name"))
  }

  /** Morton/Z-value bit-interleave of two 8-bit normalized keys —
    * emitted as arithmetic text (div/% only) so the SAME generator
    * feeds both the Spark `expr` and the DuckDB oracle; `divOp` is
    * `div` on Spark, `//` on DuckDB.
    */
  private[operators] def zInterleave(a: String, b: String, divOp: String): String =
    (0 until 8).map { i =>
      s"((($a $divOp ${1 << i}) % 2) * ${1L << (2 * i)} + " +
        s"(($b $divOp ${1 << i}) % 2) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  /** Z-order (Morton) layout audit for two-dimensional file skipping:
    * normalize (l_partkey, l_suppkey) to 8 bits each against their
    * broadcast maxima, interleave the bits into a 16-bit Z-value, cut
    * the Z-range into 16 layout partitions, and report each
    * partition's min/max envelope on BOTH keys. A linear (single-key)
    * sort gives one dim a tight envelope and leaves the other at full
    * span; the Z-curve report shows both spans bounded — the property
    * that lets a 100 TB table prune parquet row groups on either
    * predicate. Production applies the same Z expression to
    * `repartitionByRange(z)` before the write; this operator is the
    * audit that the resulting envelopes actually prune. Integer-only
    * arithmetic end to end (no doubles), one partial-agg shuffle of
    * 16 groups, maxima broadcast as a 1-row frame.
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
    val mx = li.agg(max(col("l_partkey")).as("ma"), max(col("l_suppkey")).as("mb"))
    li.crossJoin(broadcast(mx))
      .withColumn("a8", expr("(l_partkey * 256) div (ma + 1)"))
      .withColumn("b8", expr("(l_suppkey * 256) div (mb + 1)"))
      .withColumn("z", expr(zInterleave("a8", "b8", "div")))
      .withColumn("zpart", expr("z div 4096"))
      .groupBy("zpart")
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_partkey"),
        max(col("l_partkey")).as("max_partkey"),
        min(col("l_suppkey")).as("min_suppkey"),
        max(col("l_suppkey")).as("max_suppkey"))
      .withColumn("partkey_span", col("max_partkey") - col("min_partkey") + 1)
      .withColumn("suppkey_span", col("max_suppkey") - col("min_suppkey") + 1)
      .orderBy("zpart")
  }

  /** 2-D skyline (Pareto frontier) of orders on (minimize price,
    * maximize recency): the orders no other order beats on both
    * dimensions — the classic multi-objective "best tradeoffs" query,
    * computed WITHOUT the textbook O(n²) dominance self-join. The
    * sort-and-running-max recurrence is distributed with the same
    * two-phase shape as [[GraftOps.runningTotal]]: coarse price
    * buckets (cents div 1e6) roll up to a per-bucket max date +
    * prefix-max over strictly-cheaper buckets (a window over the
    * BOUNDED bucket count, broadcast back), the in-bucket strict
    * prefix-max runs per-bucket (RANGE frame to −1 cent, so
    * equal-price rows never see each other), and exact-price ties are
    * a tiny partitioned max. A row survives iff no strictly-cheaper
    * row is at least as recent and no equal-price row is strictly
    * more recent. All-integer/date comparisons — no doubles anywhere
    * in the dominance test.
    */
  def skylineOrders(spark: SparkSession, dir: String): DataFrame = {
    val floorTs = lit("1900-01-01").cast("timestamp_ntz")
    val b = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .withColumn("pc", round(col("o_totalprice") * 100, 0).cast("long"))
      .withColumn("bk", expr("pc div 1000000"))
    val off = b.groupBy("bk").agg(max(col("o_orderdate")).as("bmax"))
      .withColumn("pmax", max(col("bmax")).over(
        Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)))
      .select("bk", "pmax")
    val wIn = Window.partitionBy("bk").orderBy("pc")
      .rangeBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(off), "bk")
      .withColumn("amax", greatest(
        coalesce(max(col("o_orderdate")).over(wIn), floorTs),
        coalesce(col("pmax"), floorTs)))
      .withColumn("tmax", max(col("o_orderdate")).over(Window.partitionBy("pc")))
      .filter(!(col("amax") >= col("o_orderdate") ||
        col("o_orderdate") < col("tmax")))
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"), col("pc"))
      .orderBy("pc", "o_orderkey")
      .drop("pc")
  }

  // ---- wiring ----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skyline_orders" -> skylineOrders,
    "zorder_layout" -> zorderLayout,
    "q9_profit" -> q9Profit,
    "q20_excess_supply" -> q20ExcessSupply,
    "q11_important_parts" -> q11ImportantParts,
    "events_twap" -> eventsTwap,
    "window_throttle" -> windowThrottle,
    "q7_volume" -> q7Volume,
    "q2_mincost_supplier" -> q2MincostSupplier,
    "q12_ship_delay" -> q12ShipDelay,
    "q16_supplier_variety" -> q16SupplierVariety,
    "q21_late_supplier" -> q21LateSupplier,
    "supplier_lead_time" -> supplierLeadTime,
    "discount_lift" -> discountLift,
    "q14_promo" -> q14Promo,
    "q10_returns" -> q10Returns,
    "q13_custdist" -> q13Custdist,
    "event_paths_topk" -> eventPathsTopk,
    "q15_top_supplier" -> q15TopSupplier,
    "q19_disjunctive" -> q19Disjunctive,
    "q18_big_orders" -> q18BigOrders,
    "q22_idle_customers" -> q22IdleCustomers,
    "q8_market_share" -> q8MarketShare,
    "q17_small_qty" -> q17SmallQty,
    "event_transitions" -> eventTransitions,
    "q4_priority" -> q4Priority,
    "window_range_rev" -> windowRangeRev,
    "basket_lift" -> basketLift,
    "orders_gap_fill" -> ordersGapFill,
    "part_brand_revenue" -> partBrandRevenue,
    "nation_trade_matrix" -> nationTradeMatrix,
    "q6_revenue" -> q6Revenue,
    "events_ohlc" -> eventsOhlc,
    "dau_stickiness" -> dauStickiness,
    "events_anomaly" -> eventsAnomaly,
    "events_ewma" -> eventsEwma,
    "events_mad" -> eventsMad,
    "events_cusum" -> eventsCusum,
    "events_autocorr" -> eventsAutocorr,
    "events_stl" -> eventsStl,
    "events_stl_anomaly" -> eventsStlAnomaly,
    "events_seasonal_strength" -> eventsSeasonalStrength,
    "events_changepoint" -> eventsChangepoint,
    "events_burstiness" -> eventsBurstiness,
    "orders_abc_class" -> ordersAbcClass,
    "events_holt" -> eventsHolt,
    "events_holt_winters" -> eventsHoltWinters,
    "events_forecast_compare" -> eventsForecastCompare,
    "events_forecast_eval" -> eventsForecastEval,
    "funnel_latency" -> funnelLatency,
    "revenue_gini" -> revenueGini,
    "revenue_bridge" -> revenueBridge,
    "events_dow_profile" -> eventsDowProfile,
    "retention_curve" -> retentionCurve,
    "customer_ltv_cohort" -> customerLtvCohort,
    "orders_seasonality" -> ordersSeasonality,
    "revenue_pareto" -> revenuePareto,
    "rfm_segments" -> rfmSegments,
    "rfm_migration" -> rfmMigration,
    "skew_report" -> skewReport,
    "range_boundaries" -> rangeBoundaries,
    "concurrency_peak" -> concurrencyPeak,
    "inter_event_gap_hist" -> interEventGapHist,
    "session_length_hist" -> sessionLengthHist,
    "events_heatmap" -> eventsHeatmap,
    "q1_agg" -> q1Agg,
    "q3_topk" -> q3Topk,
    "q5_regional" -> q5Regional,
    "anti_join" -> antiJoin,
    "semi_join" -> semiJoin,
    "window_running" -> windowRunning,
    "topk_per_group" -> topkPerGroup,
    "topk_custom" -> topkCustom,
    "rollup_agg" -> rollupAgg,
    "pivot_events" -> pivotEvents,
    "json_extract" -> jsonExtract,
    "sessionize" -> sessionize,
    "window_tumbling" -> windowTumbling,
    "asof_join" -> asofJoin,
    "attribution_first_touch" -> attributionFirstTouch,
    "range_join" -> rangeJoin,
    "percentiles" -> percentiles,
    "approx_distinct" -> approxDistinct,
    "cube_agg" -> cubeAgg,
    "lead_lag_delta" -> leadLagDelta,
    "window_sliding" -> windowSliding,
    "histogram" -> histogram,
    "corr_agg" -> corrAgg,
    "exact_distinct" -> exactDistinct,
    "ntile_quartiles" -> ntileQuartiles,
    "moving_avg" -> movingAvg,
    "set_except" -> setExcept,
    "set_intersect" -> setIntersect,
    "rank_stats" -> rankStats,
    "group_concat" -> groupConcat,
    "funnel_steps" -> funnelSteps,
    "retention_cohorts" -> retentionCohorts,
    "grouping_sets" -> groupingSetsAgg,
    "salted_join" -> saltedJoin,
    "approx_percentiles" -> approxPercentiles)

  /** Shared DuckDB CTE for events at micros precision (source is ns). */
  private val EvSql =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, value, props,
      |         epoch_ns(ts) // 1000 AS ts_us
      |  FROM events
      |)""".stripMargin

  /** The STL decomposition CTE chain + final select, shared by the
    * events_stl oracle and the events_stl_anomaly oracle so the two
    * gate keys cannot desynchronize on the decomposition arithmetic.
    */
  /** Holt-Winters CTE chain (requires a WITH RECURSIVE prefix):
    * `d` → `rn0`/`g`/`m`/`seed`/`reg` → recursive `rec` → `outp`
    * (day, c, level, trend, seasonal, forecast). The 7-slot seasonal
    * register rides the recursion as explicit columns r1..r7
    * (r1 = s_{t−6} … r7 = s_t); every l_t use repeats the
    * subexpression verbatim where the Spark fold names it. Shared by
    * the events_holt_winters oracle and events_forecast_compare.
    */
  private val HwChainSql: String =
    """, d AS (
      |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
      |  FROM ev GROUP BY 1
      |), rn0 AS (
      |  SELECT day, c, row_number() OVER (ORDER BY day) AS i FROM d
      |), g AS (
      |  SELECT count(*) AS n FROM rn0
      |), m AS (
      |  SELECT list_reduce(list_prepend(0.0::DOUBLE, list_transform(
      |    list_sort(list(struct_pack(day := day, c := c))), x -> x['c']::DOUBLE)),
      |    (a, x) -> a + x) / 7.0 AS mean7
      |  FROM rn0 WHERE i <= 7
      |), seed AS (
      |  SELECT i, day, c, m.mean7 AS l, 0.0::DOUBLE AS b,
      |    c::DOUBLE - m.mean7 AS s
      |  FROM rn0, m WHERE i <= 7
      |), reg AS (
      |  SELECT
      |    max(CASE WHEN i = 1 THEN s END) AS r1,
      |    max(CASE WHEN i = 2 THEN s END) AS r2,
      |    max(CASE WHEN i = 3 THEN s END) AS r3,
      |    max(CASE WHEN i = 4 THEN s END) AS r4,
      |    max(CASE WHEN i = 5 THEN s END) AS r5,
      |    max(CASE WHEN i = 6 THEN s END) AS r6,
      |    max(CASE WHEN i = 7 THEN s END) AS r7
      |  FROM seed
      |), rec AS (
      |  SELECT 7::BIGINT AS i, NULL::BIGINT AS day, NULL::BIGINT AS c,
      |    m.mean7 AS l, 0.0::DOUBLE AS b,
      |    reg.r1, reg.r2, reg.r3, reg.r4, reg.r5, reg.r6, reg.r7,
      |    NULL::DOUBLE AS f
      |  FROM m, reg, g WHERE g.n >= 8
      |  UNION ALL
      |  SELECT rn0.i, rn0.day, rn0.c,
      |    0.25 * (rn0.c::DOUBLE - rec.r1) + 0.75 * (rec.l + rec.b),
      |    0.5 * ((0.25 * (rn0.c::DOUBLE - rec.r1) + 0.75 * (rec.l + rec.b))
      |      - rec.l) + 0.5 * rec.b,
      |    rec.r2, rec.r3, rec.r4, rec.r5, rec.r6, rec.r7,
      |    0.5 * (rn0.c::DOUBLE - (0.25 * (rn0.c::DOUBLE - rec.r1)
      |      + 0.75 * (rec.l + rec.b))) + 0.5 * rec.r1,
      |    rec.l + rec.b + rec.r1
      |  FROM rec JOIN rn0 ON rn0.i = rec.i + 1
      |), outp AS (
      |  SELECT day, c, round(l, 6) AS level, round(b, 6) AS trend,
      |    round(s, 6) AS seasonal, NULL::DOUBLE AS forecast
      |  FROM seed, g WHERE g.n >= 8
      |  UNION ALL
      |  SELECT day, c, round(l, 6), round(b, 6), round(r7, 6), round(f, 6)
      |  FROM rec WHERE i >= 8
      |)""".stripMargin

  private val StlChainSql: String =
    s"""$EvSql, d AS (
       |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
       |  FROM ev GROUP BY 1
       |), wd AS (
       |  SELECT day, c,
       |    CAST(sum(c) OVER (ORDER BY day
       |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7,
       |    count(*) OVER (ORDER BY day
       |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7,
       |    day % 7 AS dow
       |  FROM d
       |), seas AS (
       |  SELECT dow, sum((7 * c - s7)::HUGEINT) AS a, count(*)::HUGEINT AS b
       |  FROM wd WHERE n7 = 7 GROUP BY dow
       |)""".stripMargin

  private val StlSelectSql: String =
    """SELECT day, c,
      |  CASE WHEN n7 = 7
      |    THEN CAST((s7 * 2000000 + 7) // 14 AS DOUBLE) / 1e6 END AS trend,
      |  CASE WHEN n7 = 7 THEN CAST(CASE WHEN a < 0
      |    THEN -((-a * 2000000 + 7 * b) // (14 * b))
      |    ELSE ((a * 2000000 + 7 * b) // (14 * b)) END AS DOUBLE) / 1e6
      |  END AS seasonal,
      |  CASE WHEN n7 = 7 THEN CAST(CASE
      |    WHEN 7 * b * c - b * s7 - a < 0
      |    THEN -((-(7 * b * c - b * s7 - a) * 2000000 + 7 * b) // (14 * b))
      |    ELSE (((7 * b * c - b * s7 - a) * 2000000 + 7 * b) // (14 * b))
      |    END AS DOUBLE) / 1e6
      |  END AS resid
      |FROM wd LEFT JOIN seas USING (dow)""".stripMargin

  private val sessionizeSql: String =
    s"""$EvSql, lagged AS (
       |  SELECT user_id, event_id, ts_us,
       |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
       |  FROM ev
       |), flagged AS (
       |  SELECT user_id, event_id, ts_us,
       |    CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
       |  FROM lagged
       |), sess AS (
       |  SELECT user_id, event_id, ts_us,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged
       |)
       |SELECT user_id, session_id, count(*) AS n_events,
       |  strftime(make_timestamp(min(ts_us)), '%Y-%m-%d %H:%M:%S') AS start_ts,
       |  strftime(make_timestamp(max(ts_us)), '%Y-%m-%d %H:%M:%S') AS end_ts
       |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "skyline_orders" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice, o_orderdate,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) // 1000000 AS bk
        |  FROM orders
        |), g AS (
        |  SELECT bk, max(o_orderdate) AS bmax FROM b GROUP BY bk
        |), gg AS (
        |  SELECT bk,
        |    max(bmax) OVER (ORDER BY bk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM g
        |), w AS (
        |  SELECT b.*, gg.pmax,
        |    max(o_orderdate) OVER (PARTITION BY b.bk ORDER BY pc
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS imax,
        |    max(o_orderdate) OVER (PARTITION BY pc) AS tmax
        |  FROM b JOIN gg USING (bk)
        |)
        |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate
        |FROM w
        |WHERE NOT (greatest(coalesce(imax, TIMESTAMP '1900-01-01'),
        |                    coalesce(pmax, TIMESTAMP '1900-01-01')) >= o_orderdate
        |        OR o_orderdate < tmax)
        |ORDER BY pc, o_orderkey""".stripMargin,
    "zorder_layout" ->
      s"""WITH m AS (
         |  SELECT max(l_partkey) AS ma, max(l_suppkey) AS mb FROM lineitem
         |), e AS (
         |  SELECT l_partkey, l_suppkey,
         |    (l_partkey * 256) // (ma + 1) AS a8,
         |    (l_suppkey * 256) // (mb + 1) AS b8
         |  FROM lineitem, m
         |), z AS (
         |  SELECT l_partkey, l_suppkey,
         |    ${zInterleave("a8", "b8", "//")} AS z
         |  FROM e
         |)
         |SELECT CAST(z // 4096 AS BIGINT) AS zpart,
         |  count(*) AS n_rows,
         |  CAST(min(l_partkey) AS BIGINT) AS min_partkey,
         |  CAST(max(l_partkey) AS BIGINT) AS max_partkey,
         |  CAST(min(l_suppkey) AS BIGINT) AS min_suppkey,
         |  CAST(max(l_suppkey) AS BIGINT) AS max_suppkey,
         |  CAST(max(l_partkey) - min(l_partkey) + 1 AS BIGINT) AS partkey_span,
         |  CAST(max(l_suppkey) - min(l_suppkey) + 1 AS BIGINT) AS suppkey_span
         |FROM z GROUP BY zpart ORDER BY zpart""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(
        |    l_extendedprice::DECIMAL(18,2) *
        |      (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2)) -
        |    CAST(p_retailprice::DECIMAL(18,2) * l_quantity::DECIMAL(18,2) /
        |      10::DECIMAL(18,0) AS DECIMAL(18,2))
        |  ) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%ring%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2
        |ORDER BY nation, ship_year""".stripMargin,
    "q20_excess_supply" ->
      """WITH pairs AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(l_quantity::DECIMAL(18,2)) AS qty_sp
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |  GROUP BY 1, 2
        |), per_part AS (
        |  SELECT l_partkey AS pk, sum(qty_sp) AS tot_p,
        |    count(*)::DECIMAL(18,0) AS n_sup
        |  FROM pairs GROUP BY 1
        |), conc AS (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_conc_parts,
        |    CAST(sum(qty_sp) AS DOUBLE) AS conc_qty
        |  FROM pairs JOIN per_part ON l_partkey = pk
        |  WHERE qty_sp * n_sup > tot_p * 2::DECIMAL(18,0)
        |  GROUP BY 1
        |)
        |SELECT s_name, n_name AS nation, n_conc_parts, conc_qty
        |FROM conc
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_conc_parts DESC, s_name""".stripMargin,
    "q11_important_parts" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |    l_extendedprice::DECIMAL(18,2) * l_quantity::DECIMAL(18,2) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |), per AS (
        |  SELECT l_partkey, sum(val) AS pvalue FROM li GROUP BY l_partkey
        |), tot AS (
        |  SELECT sum(pvalue) AS total FROM per
        |)
        |SELECT l_partkey AS p_partkey, CAST(pvalue AS DOUBLE) AS part_value
        |FROM per, tot
        |WHERE pvalue * 5000 > total
        |ORDER BY part_value DESC, p_partkey""".stripMargin,
    "events_twap" ->
      s"""$EvSql, iv AS (
         |  SELECT ts_us // 86400000000 AS day, event_type, event_id, value,
         |    lead(ts_us) OVER (PARTITION BY ts_us // 86400000000, event_type
         |      ORDER BY ts_us, event_id) - ts_us AS dt
         |  FROM ev
         |), f AS (
         |  SELECT day, event_type, event_id, value * dt AS c, dt FROM iv
         |  WHERE dt IS NOT NULL
         |)
         |SELECT day, event_type, count(*) AS n_intervals,
         |  round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(
         |    list_sort(list(struct_pack(e := event_id, c := c))), s -> s['c'])),
         |    (a, x) -> a + x) / CAST(sum(dt) AS DOUBLE), 6) AS twap
         |FROM f GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    "window_throttle" ->
      s"""$EvSql, p AS (
         |  SELECT event_id, user_id, event_type, ts_us,
         |    lag(ts_us) OVER (PARTITION BY user_id, event_type
         |      ORDER BY ts_us, event_id) AS prev
         |  FROM ev
         |)
         |SELECT event_id, user_id, event_type, ts_us FROM p
         |WHERE prev IS NULL OR ts_us - prev >= 600000000
         |ORDER BY event_id""".stripMargin,
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year, count(*) AS n_items,
        |  CAST(sum(l_extendedprice::DECIMAL(18,2) *
        |    (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY supp_nation, cust_nation, ship_year
        |ORDER BY supp_nation, cust_nation, ship_year""".stripMargin,
    "q2_mincost_supplier" ->
      """WITH cost AS (
        |  SELECT p_partkey, p_name, l_suppkey,
        |    sum(l_extendedprice::DECIMAL(18,2)) AS supply_cost
        |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_size = 19
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY p_partkey ORDER BY supply_cost, l_suppkey) AS rn
        |  FROM cost
        |)
        |SELECT p_partkey, p_name, s_name, n_name,
        |  CAST(supply_cost AS DOUBLE) AS supply_cost
        |FROM best
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE rn = 1
        |ORDER BY supply_cost DESC, p_partkey LIMIT 100""".stripMargin,
    "supplier_lead_time" ->
      """WITH d AS (
        |  SELECT l_suppkey,
        |    CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS delay
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), a AS (
        |  SELECT l_suppkey, count(*) AS n_items,
        |    CAST(sum(delay) AS BIGINT) AS sd,
        |    max(delay) AS max_delay_days,
        |    CAST(sum(CASE WHEN delay > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |  FROM d GROUP BY l_suppkey
        |)
        |SELECT s_name, n_items,
        |  CAST((sd * 10000) // n_items AS DOUBLE) / 1e4 AS avg_delay_days,
        |  max_delay_days,
        |  CAST((n_late * 10000) // n_items AS DOUBLE) / 1e4 AS late_share
        |FROM a JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY s_name""".stripMargin,
    "discount_lift" ->
      """WITH b AS (
        |  SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS band,
        |    count(*) AS n_items,
        |    CAST(sum(l_quantity) AS BIGINT) AS qsum
        |  FROM lineitem GROUP BY band
        |), z AS (
        |  SELECT n_items AS n0, qsum AS q0 FROM b WHERE band = 0
        |)
        |SELECT band, n_items,
        |  CAST((qsum * 10000) // n_items AS DOUBLE) / 1e4 AS avg_qty,
        |  CASE WHEN q0 > 0 THEN
        |    CAST((qsum::HUGEINT * n0::HUGEINT * 10000)
        |      // (n_items::HUGEINT * q0::HUGEINT) AS DOUBLE) / 1e4
        |  END AS lift_vs_zero
        |FROM b, z ORDER BY band""".stripMargin,
    "q12_ship_delay" ->
      """SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
        |    THEN 'SLOW' ELSE 'FAST' END AS delay_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY delay_class ORDER BY delay_class""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (1, 9, 19, 23) AND p_brand <> 'Brand#5'
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q21_late_supplier" ->
      """WITH j AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
        |      THEN 1 ELSE 0 END AS late
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |), sole AS (
        |  SELECT l_orderkey FROM j GROUP BY l_orderkey
        |  HAVING count(DISTINCT l_suppkey) > 1
        |     AND count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) = 1
        |)
        |SELECT s_name, count(*) AS numwait FROM (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM j
        |  WHERE late = 1 AND l_orderkey IN (SELECT l_orderkey FROM sole)
        |)
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "event_paths_topk" ->
      """WITH p AS (
        |  SELECT user_id, event_type AS step1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
        |  FROM events
        |)
        |SELECT step1, step2, step3, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM p WHERE step3 IS NOT NULL
        |GROUP BY step1, step2, step3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey, sum(l_extendedprice::DECIMAL(18,2) *
        |    (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY l_suppkey
        |), mx AS (SELECT max(total_rev) AS mx FROM rev)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        |FROM rev, mx JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = mx.mx
        |ORDER BY s_suppkey""".stripMargin,
    "q19_disjunctive" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(l_extendedprice::DECIMAL(18,2) *
        |    (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q13_custdist" ->
      """WITH pc AS (
        |  SELECT c_custkey, count(o_custkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey
        |)
        |SELECT c_count, count(*) AS custdist FROM pc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity::DECIMAL(18,2)) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(l_quantity::DECIMAL(18,2)) > 250
        |)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
        |  CAST(total_qty AS DOUBLE) AS total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q22_idle_customers" ->
      """WITH pos AS (
        |  SELECT sum(c_acctbal::DECIMAL(18,2)) AS tot, count(*) AS n
        |  FROM customer WHERE c_acctbal > 0
        |)
        |SELECT c_mktsegment, count(*) AS n_custs,
        |  CAST(sum(c_acctbal::DECIMAL(18,2)) AS DOUBLE) AS total_bal
        |FROM customer, pos
        |WHERE c_custkey NOT IN
        |    (SELECT o_custkey FROM orders WHERE o_orderdate >= '2000-01-01')
        |  AND c_acctbal::DECIMAL(18,2) * n > tot
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(sum(CASE WHEN n_name = 'NATION_7'
        |    THEN l_extendedprice::DECIMAL(18,2) * (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))
        |    ELSE 0::DECIMAL(18,2) END) AS DOUBLE) AS nation_revenue,
        |  CAST(sum(l_extendedprice::DECIMAL(18,2) *
        |    (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  round(CAST(sum(CASE WHEN n_name = 'NATION_7'
        |    THEN l_extendedprice::DECIMAL(18,2) * (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))
        |    ELSE 0::DECIMAL(18,2) END) AS DOUBLE) /
        |    CAST(sum(l_extendedprice::DECIMAL(18,2) *
        |      (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE), 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY order_year ORDER BY order_year""".stripMargin,
    "q17_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#1'
        |), stats AS (
        |  SELECT l_partkey AS pk, sum(l_quantity::DECIMAL(18,2)) AS sq, count(*) AS nq
        |  FROM li GROUP BY l_partkey
        |)
        |SELECT count(*) AS n_items,
        |  CAST(sum(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM li JOIN stats ON l_partkey = pk
        |WHERE l_quantity::DECIMAL(18,2) * 5 * nq < sq""".stripMargin,
    "q14_promo" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice::DECIMAL(18,2) * (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))
        |    ELSE 0::DECIMAL(18,2) END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(l_extendedprice::DECIMAL(18,2) *
        |    (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice::DECIMAL(18,2) * (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))
        |    ELSE 0::DECIMAL(18,2) END) AS DOUBLE) /
        |    CAST(sum(l_extendedprice::DECIMAL(18,2) *
        |      (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE), 4) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY ship_month ORDER BY ship_month""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name, count(*) AS n_items,
        |  CAST(sum(l_extendedprice::DECIMAL(18,2) *
        |    (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE) AS lost_revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "event_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type
        |), t AS (
        |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY from_type
        |)
        |SELECT from_type, to_type, n, round(n::DOUBLE / tot::DOUBLE, 6) AS p
        |FROM c JOIN t USING (from_type) ORDER BY from_type, to_type""".stripMargin,
    "q4_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "window_range_rev" ->
      """WITH d AS (
        |  SELECT l_suppkey,
        |    date_diff('day', DATE '1970-01-01', l_shipdate::DATE)::BIGINT AS day,
        |    sum(l_extendedprice::DECIMAL(18,2) *
        |      (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS rev_dec
        |  FROM lineitem GROUP BY l_suppkey, day
        |)
        |SELECT l_suppkey, day,
        |  CAST(rev_dec AS DOUBLE) AS rev_day,
        |  CAST(sum(rev_dec) OVER (PARTITION BY l_suppkey ORDER BY day
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev30
        |FROM d ORDER BY l_suppkey, day""".stripMargin,
    "basket_lift" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), n AS (
        |  SELECT count(DISTINCT l_orderkey)::DOUBLE AS n FROM b
        |), pa AS (
        |  SELECT l_partkey, count(*) AS na FROM b GROUP BY l_partkey
        |), pr AS (
        |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b, count(*) AS n_ab
        |  FROM b x JOIN b y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |)
        |SELECT part_a, part_b, n_ab,
        |  round(n_ab::DOUBLE * n.n / (a.na::DOUBLE * b2.na::DOUBLE), 4) AS lift
        |FROM pr JOIN pa a ON pr.part_a = a.l_partkey
        |  JOIN pa b2 ON pr.part_b = b2.l_partkey, n
        |ORDER BY lift DESC, part_a, part_b LIMIT 20""".stripMargin,
    "revenue_gini" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY o_custkey
        |), r AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS rn
        |  FROM cust
        |), a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(x) AS BIGINT) AS total_cents,
        |    sum(CAST(rn AS HUGEINT) * CAST(x AS HUGEINT)) AS w
        |  FROM r
        |)
        |, g AS (
        |  SELECT n_customers, total_cents,
        |    2 * w - (CAST(n_customers AS HUGEINT) + 1) * CAST(total_cents AS HUGEINT) AS gn,
        |    CAST(n_customers AS HUGEINT) * CAST(total_cents AS HUGEINT) AS gd
        |  FROM a
        |)
        |SELECT n_customers, total_cents,
        |  CAST(gn AS BIGINT) AS gini_num,
        |  CAST(gd AS BIGINT) AS gini_den,
        |  CAST(CASE WHEN gn < 0 THEN -((-gn * 2000000 + gd) // (2 * gd))
        |    ELSE ((gn * 2000000 + gd) // (2 * gd)) END AS DOUBLE) / 1e6 AS gini
        |FROM g""".stripMargin,
    "revenue_bridge" ->
      """WITH cy AS (
        |  SELECT o_custkey, CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
        |    sum(o_totalprice::DECIMAL(18,2)) AS m
        |  FROM orders GROUP BY 1, 2
        |), yrs AS (SELECT DISTINCT yr FROM cy),
        |pairs AS (SELECT a.yr AS y0 FROM yrs a JOIN yrs b ON b.yr = a.yr + 1),
        |j AS (
        |  SELECT coalesce(a.o_custkey, b.o_custkey) AS ck,
        |    coalesce(a.y0, b.y0) AS y0, a.m AS m0, b.m AS m1
        |  FROM (SELECT o_custkey, yr AS y0, m FROM cy) a
        |  FULL OUTER JOIN (SELECT o_custkey, yr - 1 AS y0, m FROM cy) b
        |    ON a.o_custkey = b.o_custkey AND a.y0 = b.y0
        |), c AS (
        |  SELECT j.y0,
        |    CASE WHEN m0 IS NULL THEN 'new' WHEN m1 IS NULL THEN 'churned'
        |      WHEN m1 > m0 THEN 'expansion' WHEN m1 < m0 THEN 'contraction'
        |      ELSE 'flat' END AS component,
        |    coalesce(m1, 0::DECIMAL(18,2)) - coalesce(m0, 0::DECIMAL(18,2)) AS delta
        |  FROM j JOIN pairs ON j.y0 = pairs.y0
        |)
        |SELECT y0 AS year_from, y0 + 1 AS year_to, component,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(CAST(sum(delta) AS DOUBLE), 2) AS amount
        |FROM c GROUP BY 1, 2, 3 ORDER BY year_from, component""".stripMargin,
    "events_dow_profile" ->
      s"""$EvSql, d AS (
         |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1
         |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM d),
         |g AS (
         |  SELECT day % 7 AS dow, CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(c) AS BIGINT) AS n_events
         |  FROM d GROUP BY 1
         |)
         |SELECT dow, n_days, n_events,
         |  round(n_events::DOUBLE / n_days::DOUBLE, 4) AS avg_per_day,
         |  round(n_events::DOUBLE / t::DOUBLE, 4) AS share
         |FROM g, tot ORDER BY dow""".stripMargin,
    "retention_curve" ->
      s"""$EvSql, d AS (
         |  SELECT DISTINCT user_id, ts_us // 86400000000 AS day FROM ev
         |), f AS (
         |  SELECT user_id, min(day) AS d0 FROM d GROUP BY user_id
         |), nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM f),
         |g AS (
         |  SELECT d.day - f.d0 AS k, CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
         |  FROM d JOIN f ON d.user_id = f.user_id
         |  WHERE d.day - f.d0 BETWEEN 1 AND 14
         |  GROUP BY 1
         |)
         |SELECT k AS day_offset, n_active, n_users,
         |  round(n_active::DOUBLE / n_users::DOUBLE, 4) AS retention
         |FROM g, nu ORDER BY day_offset""".stripMargin,
    "events_cusum" ->
      s"""${EvSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, d AS (
         |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS t FROM d
         |), o AS (
         |  SELECT day, c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i FROM d
         |), rec AS (
         |  SELECT o.day, o.c, o.i, n * o.c - t AS s,
         |    greatest(CAST(0 AS BIGINT), n * o.c - t) AS p,
         |    least(CAST(0 AS BIGINT), n * o.c - t) AS q
         |  FROM o, tot WHERE o.i = 1
         |  UNION ALL
         |  SELECT o.day, o.c, o.i, tot.n * o.c - tot.t,
         |    greatest(CAST(0 AS BIGINT), rec.p + tot.n * o.c - tot.t),
         |    least(CAST(0 AS BIGINT), rec.q + tot.n * o.c - tot.t)
         |  FROM rec JOIN o ON o.i = rec.i + 1 CROSS JOIN tot
         |)
         |SELECT day, c AS n_events, s AS scaled_dev, p AS cusum_pos, q AS cusum_neg
         |FROM rec ORDER BY day""".stripMargin,
    "events_stl" -> s"$StlChainSql\n$StlSelectSql ORDER BY day",
    "events_stl_anomaly" ->
      s"""$StlChainSql, stl AS (
         |$StlSelectSql
         |), core AS (
         |  SELECT day, c, resid FROM stl WHERE resid IS NOT NULL
         |), nn AS (
         |  SELECT count(*) AS n FROM core
         |), med AS (
         |  SELECT resid AS med FROM (
         |    SELECT resid, row_number() OVER (ORDER BY resid, day) AS rn
         |    FROM core), nn
         |  WHERE rn = (n + 1) // 2
         |), dv AS (
         |  SELECT core.day, core.c, core.resid, med.med,
         |    abs(core.resid - med.med) AS dev
         |  FROM core, med
         |), mad AS (
         |  SELECT dev AS mad FROM (
         |    SELECT dev, day, row_number() OVER (ORDER BY dev, day) AS rn
         |    FROM dv), nn
         |  WHERE rn = (n + 1) // 2
         |)
         |SELECT day, c AS n_events, resid, med, mad,
         |  CAST(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_anomaly
         |FROM dv, mad ORDER BY day""".stripMargin,
    "events_seasonal_strength" ->
      s"""$StlChainSql, stl AS (
         |$StlSelectSql
         |), core AS (
         |  SELECT day, resid AS r, seasonal + resid AS z
         |  FROM stl WHERE resid IS NOT NULL
         |), g2 AS (
         |  SELECT count(*)::DOUBLE AS n,
         |    list_sort(list(struct_pack(o := day, r := r, r2 := r * r,
         |      z := z, z2 := z * z))) AS ps
         |  FROM core
         |), sm AS (
         |  SELECT n,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['r'])), (a, v) -> a + v) AS sr,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['r2'])), (a, v) -> a + v) AS sr2,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['z'])), (a, v) -> a + v) AS sz,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['z2'])), (a, v) -> a + v) AS sz2
         |  FROM g2
         |)
         |SELECT CAST(n AS BIGINT) AS n_days,
         |  CASE WHEN n > 0
         |    THEN round((n * sr2 - sr * sr) / (n * n), 6) END AS var_resid,
         |  CASE WHEN n > 0
         |    THEN round((n * sz2 - sz * sz) / (n * n), 6) END AS var_deseason,
         |  CASE WHEN n * sz2 - sz * sz > 0
         |    THEN round(greatest(0.0, 1.0 -
         |      (n * sr2 - sr * sr) / (n * sz2 - sz * sz)), 6)
         |  END AS seasonal_strength
         |FROM sm""".stripMargin,
    "events_holt_winters" ->
      s"""${EvSql.replaceFirst("WITH ", "WITH RECURSIVE ")}$HwChainSql
         |SELECT day, c AS n_events, level, trend, seasonal, forecast
         |FROM outp ORDER BY day""".stripMargin,
    "events_forecast_compare" ->
      s"""${EvSql.replaceFirst("WITH ", "WITH RECURSIVE ")}$HwChainSql, dd AS (
         |  SELECT day, c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM d
         |), r AS (
         |  SELECT rn, day, c, c::DOUBLE AS l, 0.0::DOUBLE AS b FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT dd.rn, dd.day, dd.c,
         |    0.25 * dd.c::DOUBLE + 0.75 * (r.l + r.b),
         |    0.5 * ((0.25 * dd.c::DOUBLE + 0.75 * (r.l + r.b)) - r.l) + 0.5 * r.b
         |  FROM r JOIN dd ON dd.rn = r.rn + 1
         |), hf AS (
         |  SELECT rn, day, c, round(l + b, 6) AS forecast FROM r
         |), j AS (
         |  SELECT a.day,
         |    abs(a.c::DOUBLE - b.forecast) AS eh,
         |    abs(a.c::DOUBLE - o.forecast) AS ew,
         |    CAST(abs(a.c - b.c) AS DOUBLE) AS en
         |  FROM hf a JOIN hf b ON b.rn = a.rn - 1
         |  JOIN outp o ON o.day = a.day
         |  WHERE o.forecast IS NOT NULL AND b.forecast IS NOT NULL
         |), g2 AS (
         |  SELECT count(*)::DOUBLE AS n,
         |    list_sort(list(struct_pack(o := day, eh := eh, ew := ew, en := en))) AS ps
         |  FROM j
         |), sm AS (
         |  SELECT n,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['eh'])), (a, v) -> a + v) AS seh,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['ew'])), (a, v) -> a + v) AS sew,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['en'])), (a, v) -> a + v) AS sen
         |  FROM g2
         |)
         |SELECT CAST(n AS BIGINT) AS n_forecasts,
         |  CASE WHEN n > 0 THEN round(seh / n, 6) END AS mae_holt,
         |  CASE WHEN n > 0 THEN round(sew / n, 6) END AS mae_hw,
         |  CASE WHEN n > 0 THEN round(sen / n, 6) END AS mae_naive,
         |  CASE WHEN seh > 0 THEN round(1.0 - sew / seh, 6) END AS skill_hw_vs_holt,
         |  CASE WHEN sen > 0 THEN round(1.0 - sew / sen, 6) END AS skill_hw_vs_naive
         |FROM sm""".stripMargin,
    "events_autocorr" ->
      s"""$EvSql, d AS (
         |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS t FROM d
         |), s AS (
         |  SELECT day, n * c - t AS s FROM d, tot
         |), den AS (
         |  SELECT sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS den FROM s
         |), lags AS (SELECT unnest(range(1, 8)) AS lag),
         |pairs AS (
         |  SELECT l.lag AS lag, a.s AS sa, b.s AS sb
         |  FROM lags l JOIN s a ON TRUE JOIN s b ON b.day = a.day + l.lag
         |), num AS (
         |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         |    sum(CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT)) AS num
         |  FROM pairs GROUP BY lag
         |)
         |SELECT lag, n_pairs, CAST(num AS BIGINT) AS num,
         |  CAST(den AS BIGINT) AS den,
         |  CAST(CASE WHEN num < 0 THEN -((-num * 2000000 + den) // (2 * den))
         |    ELSE ((num * 2000000 + den) // (2 * den)) END AS DOUBLE) / 1e6 AS autocorr
         |FROM num, den ORDER BY lag""".stripMargin,
    "events_changepoint" ->
      s"""$EvSql, d AS (
         |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1
         |), pre AS (
         |  SELECT day,
         |    CAST(row_number() OVER (ORDER BY day) AS HUGEINT) AS k,
         |    CAST(sum(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS s1,
         |    sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT))
         |      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s2
         |  FROM d
         |), tot AS (
         |  SELECT max(k) AS n, max(s1) AS t1, max(s2) AS t2 FROM pre
         |), cand AS (
         |  SELECT day AS split_day, k, n, t1, t2,
         |    (k * s2 - s1 * s1) AS al,
         |    ((n - k) * (t2 - s2) - (t1 - s1) * (t1 - s1)) AS ar,
         |    (k * (n - k)) AS den
         |  FROM pre, tot WHERE k < n
         |), cost AS (
         |  SELECT split_day, k, n, t1, t2, den,
         |    (al * (n - k) + ar * k) AS num
         |  FROM cand
         |), best AS (
         |  SELECT *, CAST((num * 2000000 + den) // (2 * den) AS BIGINT) AS cost_micro,
         |    row_number() OVER (
         |      ORDER BY (num * 2000000 + den) // (2 * den), split_day) AS rn
         |  FROM cost
         |)
         |SELECT CAST(n AS BIGINT) AS n_days, split_day,
         |  CAST(k AS BIGINT) AS n_left, CAST(n - k AS BIGINT) AS n_right,
         |  cost_micro,
         |  CAST(((n * t2 - t1 * t1) * 2000000 + n) // (2 * n) AS BIGINT) AS baseline_micro,
         |  CAST(((n * t2 - t1 * t1) * 2000000 + n) // (2 * n) AS BIGINT) - cost_micro
         |    AS gain_micro
         |FROM best WHERE rn = 1""".stripMargin,
    "orders_abc_class" ->
      """WITH pr AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) *
        |      10000 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS cents
        |  FROM lineitem GROUP BY l_partkey
        |), tot AS (
        |  SELECT CAST(sum(cents) AS DECIMAL(38,0)) AS total FROM pr
        |), c AS (
        |  SELECT l_partkey, cents,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)) AS cum
        |  FROM pr
        |), cls AS (
        |  SELECT cents,
        |    CASE WHEN cum * 10 <= total * 7 THEN 'A'
        |      WHEN cum * 10 <= total * 9 THEN 'B' ELSE 'C' END AS abc_class
        |  FROM c, tot
        |)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(cents) AS BIGINT) AS class_rev_e4,
        |  round(CAST(sum(cents) AS DOUBLE) / CAST(total AS DOUBLE), 6) AS rev_share
        |FROM cls, tot GROUP BY abc_class, total
        |ORDER BY abc_class""".stripMargin,
    "events_burstiness" ->
      s"""$EvSql, g AS (
         |  SELECT event_type,
         |    ts_us - lag(ts_us) OVER (PARTITION BY event_type
         |      ORDER BY ts_us, event_id) AS g
         |  FROM ev
         |), gg AS (SELECT event_type, g FROM g WHERE g IS NOT NULL),
         |agg AS (
         |  SELECT event_type,
         |    CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CAST(g AS HUGEINT)) AS HUGEINT) AS s1,
         |    CAST(sum(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS HUGEINT) AS s2
         |  FROM gg GROUP BY event_type
         |)
         |SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
         |  CAST(s1 // n AS BIGINT) AS mean_gap_us,
         |  round((sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) - CAST(s1 AS DOUBLE)) /
         |    (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) + CAST(s1 AS DOUBLE)), 6)
         |    AS burstiness
         |FROM agg ORDER BY event_type""".stripMargin,
    "events_forecast_eval" ->
      s"""${EvSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, d AS (
         |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1
         |), dd AS (
         |  SELECT day, c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM d
         |), r AS (
         |  SELECT rn, day, c, c::DOUBLE AS l, 0.0::DOUBLE AS b FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT dd.rn, dd.day, dd.c,
         |    0.25 * dd.c::DOUBLE + 0.75 * (r.l + r.b),
         |    0.5 * ((0.25 * dd.c::DOUBLE + 0.75 * (r.l + r.b)) - r.l) + 0.5 * r.b
         |  FROM r JOIN dd ON dd.rn = r.rn + 1
         |), f AS (
         |  SELECT rn, day, c, round(l + b, 6) AS forecast FROM r
         |), j AS (
         |  SELECT a.day,
         |    abs(a.c::DOUBLE - b.forecast) AS eh,
         |    CAST(abs(a.c - b.c) AS DOUBLE) AS en,
         |    abs(a.c::DOUBLE - b.forecast) / a.c::DOUBLE AS ph
         |  FROM f a JOIN f b ON b.rn = a.rn - 1
         |), g AS (
         |  SELECT count(*)::DOUBLE AS n,
         |    list_sort(list(struct_pack(o := day, eh := eh, en := en, ph := ph))) AS ps
         |  FROM j
         |), sm AS (
         |  SELECT n,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['eh'])), (a, v) -> a + v) AS seh,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['en'])), (a, v) -> a + v) AS sen,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ps, p -> p['ph'])), (a, v) -> a + v) AS sph
         |  FROM g
         |)
         |SELECT CAST(n AS BIGINT) AS n_forecasts,
         |  round(seh / n, 6) AS mae_holt,
         |  round(sen / n, 6) AS mae_naive,
         |  round(sph / n * 100.0, 6) AS mape_holt_pct,
         |  CASE WHEN sen > 0 THEN round(1.0 - seh / sen, 6) END AS skill
         |FROM sm""".stripMargin,
    "events_mad" ->
      s"""$EvSql, d AS (
         |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1
         |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
         |mr AS (
         |  SELECT c AS med FROM
         |    (SELECT c, row_number() OVER (ORDER BY c, day) AS rn FROM d), nn
         |  WHERE rn = (n + 1) // 2
         |), dv AS (
         |  SELECT day, c, abs(c - mr.med) AS dev, mr.med AS med FROM d, mr
         |), madr AS (
         |  SELECT dev AS mad FROM
         |    (SELECT dev, day, row_number() OVER (ORDER BY dev, day) AS rn FROM dv), nn
         |  WHERE rn = (n + 1) // 2
         |)
         |SELECT day, c AS n_events, med, mad,
         |  CAST(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
         |FROM dv, madr ORDER BY day""".stripMargin,
    "funnel_latency" ->
      s"""$EvSql, t1 AS (
         |  SELECT user_id, min(ts_us) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY 1
         |), t2 AS (
         |  SELECT e.user_id, min(e.ts_us) AS t2 FROM ev e
         |  JOIN t1 ON e.user_id = t1.user_id
         |  WHERE e.event_type = 'click' AND e.ts_us > t1.t1 GROUP BY e.user_id
         |), t3 AS (
         |  SELECT e.user_id, min(e.ts_us) AS t3 FROM ev e
         |  JOIN t2 ON e.user_id = t2.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts_us > t2.t2 GROUP BY e.user_id
         |), legs AS (
         |  SELECT t2.t2 - t1.t1 AS view_to_click,
         |    t3.t3 - t2.t2 AS click_to_purchase,
         |    t3.t3 - t1.t1 AS view_to_purchase
         |  FROM t1 JOIN t2 USING (user_id) JOIN t3 USING (user_id)
         |), m AS (
         |  SELECT CAST(1 AS BIGINT) AS step, 'view_to_click' AS leg, view_to_click AS d FROM legs
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), 'click_to_purchase', click_to_purchase FROM legs
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), 'view_to_purchase', view_to_purchase FROM legs
         |), r AS (
         |  SELECT step, leg, d,
         |    CAST(row_number() OVER (PARTITION BY leg ORDER BY d) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY leg) AS BIGINT) AS n
         |  FROM m
         |)
         |SELECT step, leg, max(n) AS n_users,
         |  max(CASE WHEN rn = (n + 3) // 4 THEN d END) AS q25_us,
         |  max(CASE WHEN rn = (n + 1) // 2 THEN d END) AS q50_us,
         |  max(CASE WHEN rn = (3 * n + 3) // 4 THEN d END) AS q75_us
         |FROM r GROUP BY step, leg ORDER BY step""".stripMargin,
    "events_holt" ->
      s"""${EvSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, d AS (
         |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1
         |), dd AS (
         |  SELECT day, c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM d
         |), r AS (
         |  SELECT rn, day, c, c::DOUBLE AS l, 0.0::DOUBLE AS b FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT dd.rn, dd.day, dd.c,
         |    0.25 * dd.c::DOUBLE + 0.75 * (r.l + r.b),
         |    0.5 * ((0.25 * dd.c::DOUBLE + 0.75 * (r.l + r.b)) - r.l) + 0.5 * r.b
         |  FROM r JOIN dd ON dd.rn = r.rn + 1
         |)
         |SELECT day, c AS n_events, round(l, 6) AS level, round(b, 6) AS trend,
         |  round(l + b, 6) AS forecast
         |FROM r ORDER BY day""".stripMargin,
    "events_ewma" ->
      s"""${EvSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, d AS (
         |  SELECT ts_us // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1
         |), dd AS (
         |  SELECT day, c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM d
         |), r AS (
         |  SELECT rn, day, c, c::DOUBLE AS e FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT dd.rn, dd.day, dd.c, 0.25 * dd.c::DOUBLE + 0.75 * r.e
         |  FROM r JOIN dd ON dd.rn = r.rn + 1
         |)
         |SELECT day, c AS n_events, round(e, 6) AS ewma FROM r ORDER BY day""".stripMargin,
    "events_anomaly" ->
      s"""$EvSql, d AS (
         |  SELECT ts_us // 86400000000 AS day, count(*) AS c FROM ev GROUP BY 1
         |), m AS (
         |  SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS sx,
         |    CAST(sum(c * c) AS BIGINT) AS sxx
         |  FROM d
         |)
         |SELECT day, c AS n_events,
         |  round(sx::DOUBLE / n, 4) AS mean,
         |  round((c - sx::DOUBLE / n) /
         |    sqrt((n * sxx - sx * sx)::DOUBLE / (n::DOUBLE * (n - 1)::DOUBLE)), 4) AS z,
         |  CAST(CASE WHEN abs((c - sx::DOUBLE / n) /
         |    sqrt((n * sxx - sx * sx)::DOUBLE / (n::DOUBLE * (n - 1)::DOUBLE))) >= 2.0
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
         |FROM d, m ORDER BY day""".stripMargin,
    "customer_ltv_cohort" ->
      """WITH f AS (
        |  SELECT o_custkey,
        |    CAST(date_part('year', min(o_orderdate)) AS BIGINT) AS cohort
        |  FROM orders GROUP BY o_custkey
        |)
        |SELECT f.cohort AS cohort,
        |  CAST(date_part('year', o.o_orderdate) AS BIGINT) AS yr,
        |  CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
        |  count(*) AS n_orders,
        |  round(sum(o.o_totalprice::DECIMAL(18,2))::DOUBLE, 2) AS revenue
        |FROM orders o JOIN f USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY cohort, yr""".stripMargin,
    "orders_seasonality" ->
      """WITH g AS (
        |  SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
        |    CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
        |    count(*) AS n_orders,
        |    sum(o_totalprice::DECIMAL(18,2)) AS rdec
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT yr, mo, n_orders,
        |  round(rdec::DOUBLE, 2) AS revenue,
        |  round(rdec::DOUBLE / n_orders, 2) AS avg_order_value
        |FROM g ORDER BY yr, mo""".stripMargin,
    "revenue_pareto" ->
      """WITH cust AS (
        |  SELECT o_custkey, sum(o_totalprice::DECIMAL(18,2)) AS m
        |  FROM orders GROUP BY o_custkey
        |), d AS (
        |  SELECT o_custkey, m,
        |    CAST(ntile(10) OVER (ORDER BY m DESC, o_custkey) AS BIGINT) AS decile
        |  FROM cust
        |), t AS (SELECT sum(m)::DOUBLE AS total FROM cust),
        |g AS (
        |  SELECT decile, count(*) AS n_customers, sum(m) AS rev FROM d GROUP BY decile
        |), s AS (
        |  SELECT decile, n_customers, rev::DOUBLE / t.total AS share0 FROM g, t
        |), c AS (
        |  SELECT decile, n_customers, share0,
        |    sum(share0) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0
        |  FROM s
        |)
        |SELECT decile, n_customers, round(share0, 4) AS rev_share,
        |  round(cum0, 4) AS cum_share
        |FROM c ORDER BY decile""".stripMargin,
    "rfm_migration" ->
      """WITH dts AS (SELECT DISTINCT o_orderdate AS d FROM orders),
        |nn AS (SELECT count(*) AS n FROM dts),
        |sp AS (
        |  SELECT d AS split FROM (
        |    SELECT d, row_number() OVER (ORDER BY d) AS rn FROM dts), nn
        |  WHERE rn = (n + 1) // 2
        |),
        |pa AS (SELECT o.* FROM orders o, sp WHERE o.o_orderdate <= sp.split),
        |pb AS (SELECT o.* FROM orders o, sp WHERE o.o_orderdate > sp.split),
        |ca AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(o_orderdate)::DATE,
        |      (SELECT max(o_orderdate) FROM pa)::DATE) AS BIGINT) AS recency_days,
        |    count(*) AS frequency,
        |    CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS monetary
        |  FROM pa GROUP BY o_custkey
        |), cb AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(o_orderdate)::DATE,
        |      (SELECT max(o_orderdate) FROM pb)::DATE) AS BIGINT) AS recency_days,
        |    count(*) AS frequency,
        |    CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS monetary
        |  FROM pb GROUP BY o_custkey
        |), sa AS (
        |  SELECT o_custkey,
        |    CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey) AS BIGINT)::VARCHAR ||
        |    CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)::VARCHAR ||
        |    CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT)::VARCHAR AS segment
        |  FROM ca
        |), sb AS (
        |  SELECT o_custkey,
        |    CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey) AS BIGINT)::VARCHAR ||
        |    CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)::VARCHAR ||
        |    CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT)::VARCHAR AS segment
        |  FROM cb
        |)
        |SELECT coalesce(sa.segment, 'new') AS seg_from,
        |  coalesce(sb.segment, 'churned') AS seg_to,
        |  count(*) AS n_customers
        |FROM sa FULL OUTER JOIN sb USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY seg_from, seg_to""".stripMargin,
    "rfm_segments" ->
      """WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
        |c AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(o_orderdate)::DATE, (SELECT maxd FROM mx)::DATE) AS BIGINT) AS recency_days,
        |    count(*) AS frequency,
        |    CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY o_custkey
        |), s AS (
        |  SELECT o_custkey, recency_days, frequency, monetary,
        |    CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey) AS BIGINT) AS r_score,
        |    CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_score,
        |    CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS m_score
        |  FROM c
        |)
        |SELECT o_custkey, recency_days, frequency, round(monetary, 2) AS monetary,
        |  r_score, f_score, m_score,
        |  r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
        |FROM s ORDER BY o_custkey""".stripMargin,
    "skew_report" ->
      """WITH c AS (
        |  SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
        |), t AS (
        |  SELECT sum(n)::DOUBLE AS total, count(*)::DOUBLE AS nkeys FROM c
        |)
        |SELECT l_suppkey, n,
        |  round(n / t.total, 6) AS share,
        |  round(n / (t.total / t.nkeys), 4) AS x_mean
        |FROM c, t ORDER BY n DESC, l_suppkey LIMIT 20""".stripMargin,
    "range_boundaries" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
         |), s AS (
         |  SELECT cents FROM o
         |  ORDER BY md5('rbound:' || o_orderkey::VARCHAR) LIMIT ${Analytics.RangeSampleK}
         |), cs AS (
         |  SELECT list_sort(list(cents)) AS cs FROM s
         |), b AS (
         |  SELECT cs[greatest(1, (len(cs) * k.k) // 8)] AS bv
         |  FROM cs, (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS k) k
         |), tot AS (SELECT count(*)::DOUBLE AS total FROM o),
         |p AS (
         |  SELECT o.o_orderkey, o.cents,
         |    CAST(sum(CASE WHEN o.cents > b.bv THEN 1 ELSE 0 END) AS BIGINT) AS part_id
         |  FROM o CROSS JOIN b GROUP BY o.o_orderkey, o.cents
         |)
         |SELECT part_id, CAST(count(*) AS BIGINT) AS n_rows,
         |  round(count(*)::DOUBLE / tot.total, 6) AS share,
         |  min(cents) AS lo_cents, max(cents) AS hi_cents
         |FROM p, tot GROUP BY part_id, tot.total ORDER BY part_id""".stripMargin,
    "concurrency_peak" ->
      s"""$EvSql, lagged AS (
         |  SELECT user_id, event_id, ts_us,
         |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
         |  FROM ev
         |), flagged AS (
         |  SELECT user_id, event_id, ts_us,
         |    CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
         |  FROM lagged
         |), sess AS (
         |  SELECT user_id, ts_us,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM flagged
         |), ses AS (
         |  SELECT user_id, session_id, min(ts_us) AS st, max(ts_us) AS en
         |  FROM sess GROUP BY user_id, session_id
         |), d AS (
         |  SELECT st AS t, 1 AS delta FROM ses
         |  UNION ALL
         |  SELECT en + 1 AS t, -1 AS delta FROM ses
         |), g AS (
         |  SELECT t, CAST(sum(delta) AS BIGINT) AS delta FROM d GROUP BY t
         |)
         |SELECT t, delta,
         |  CAST(sum(delta) OVER (ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrency
         |FROM g ORDER BY t""".stripMargin,
    "orders_gap_fill" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS day,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1
        |), cal AS (
        |  SELECT unnest(range(min(day), max(day) + 1)) AS day FROM daily
        |)
        |SELECT strftime(DATE '1970-01-01' + INTERVAL (cal.day) DAY, '%Y-%m-%d') AS order_date,
        |  coalesce(daily.n_orders, 0) AS n_orders
        |FROM cal LEFT JOIN daily ON cal.day = daily.day
        |ORDER BY order_date""".stripMargin,
    "part_brand_revenue" ->
      """SELECT p_brand, year(l_shipdate)::BIGINT AS ship_year,
        |  count(*) AS n_items,
        |  CAST(sum(l_extendedprice::DECIMAL(18,2) *
        |    (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand, ship_year ORDER BY p_brand, ship_year""".stripMargin,
    "nation_trade_matrix" ->
      """SELECT n_name, year(l_shipdate)::BIGINT AS ship_year,
        |  count(*) AS n_items,
        |  CAST(sum(l_extendedprice::DECIMAL(18,2) *
        |    (1.0::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, ship_year ORDER BY n_name, ship_year""".stripMargin,
    "q6_revenue" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "events_ohlc" ->
      s"""$EvSql, b AS (
         |  SELECT event_type, ts_us // 3600000000 AS hour, ts_us, event_id, value,
         |    row_number() OVER (PARTITION BY event_type, ts_us // 3600000000
         |      ORDER BY ts_us ASC, event_id ASC) AS ra,
         |    row_number() OVER (PARTITION BY event_type, ts_us // 3600000000
         |      ORDER BY ts_us DESC, event_id DESC) AS rd
         |  FROM ev
         |)
         |SELECT event_type, hour, count(*) AS n_events,
         |  max(CASE WHEN ra = 1 THEN value END) AS open,
         |  max(value) AS high, min(value) AS low,
         |  max(CASE WHEN rd = 1 THEN value END) AS close
         |FROM b GROUP BY event_type, hour ORDER BY event_type, hour""".stripMargin,
    "dau_stickiness" ->
      s"""$EvSql, days AS (
         |  SELECT DISTINCT user_id, ts_us // 86400000000 AS day FROM ev
         |), dau AS (
         |  SELECT day, count(*) AS dau FROM days GROUP BY day
         |), wau AS (
         |  SELECT week, count(*) AS wau FROM (
         |    SELECT DISTINCT user_id, day // 7 AS week FROM days) GROUP BY week
         |)
         |SELECT day, dau, week, wau,
         |  round(dau::DOUBLE / wau::DOUBLE, 4) AS stickiness
         |FROM dau JOIN wau ON day // 7 = week
         |ORDER BY day""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk" ->
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < '1996-03-15' AND l_shipdate > '1996-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_regional" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
        |ORDER BY s_suppkey""".stripMargin,
    "window_running" ->
      """SELECT l_suppkey, CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |      CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_rev_cents
        |FROM lineitem ORDER BY l_suppkey, ship, l_orderkey, l_linenumber""".stripMargin,
    "topk_custom" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin,
    "topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "rollup_agg" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "pivot_events" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |  count(*) AS n_total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "inter_event_gap_hist" ->
      s"""$EvSql, lagged AS (
         |  SELECT user_id,
         |    ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
         |  FROM ev
         |), b AS (
         |  SELECT CASE
         |    WHEN gap_us < 60000000 THEN 0
         |    WHEN gap_us < 300000000 THEN 1
         |    WHEN gap_us < 1800000000 THEN 2
         |    WHEN gap_us < 7200000000 THEN 3
         |    WHEN gap_us < 86400000000 THEN 4
         |    ELSE 5 END AS bucket_id
         |  FROM lagged WHERE gap_us IS NOT NULL
         |), t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b)
         |SELECT CAST(bucket_id AS BIGINT) AS bucket_id,
         |  ['lt_1m', '1m_5m', '5m_30m', '30m_2h', '2h_24h', 'ge_24h'][bucket_id + 1] AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_gaps,
         |  round(count(*)::DOUBLE / t.n_total::DOUBLE, 6) AS share
         |FROM b, t GROUP BY bucket_id, t.n_total ORDER BY bucket_id""".stripMargin,
    "sessionize" -> sessionizeSql,
    "events_heatmap" ->
      s"""$EvSql
         |SELECT (ts_us // 86400000000 + 3) % 7 AS dow,
         |  (ts_us // 3600000000) % 24 AS hour,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM ev GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin,
    "session_length_hist" ->
      s"""SELECT n_events, CAST(count(*) AS BIGINT) AS n_sessions
         |FROM ($sessionizeSql) s
         |GROUP BY n_events ORDER BY n_events""".stripMargin,
    "window_tumbling" ->
      s"""$EvSql
         |SELECT strftime(make_timestamp((ts_us // 3600000000) * 3600000000),
         |         '%Y-%m-%d %H:%M:%S') AS hour_start,
         |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         |FROM ev GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "asof_join" ->
      s"""$EvSql, unioned AS (
         |  SELECT user_id AS u, ts_us AS t, 1 AS kind, NULL::BIGINT AS okey, event_id FROM ev
         |  UNION ALL
         |  SELECT o_custkey AS u, epoch_us(o_orderdate) AS t, 0 AS kind,
         |         o_orderkey AS okey, NULL::BIGINT AS event_id FROM orders
         |)
         |SELECT event_id, u AS user_id, last_order FROM (
         |  SELECT event_id, u, kind,
         |    last_value(okey IGNORE NULLS) OVER (PARTITION BY u ORDER BY t, kind, okey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_order
         |  FROM unioned)
         |WHERE kind = 1 ORDER BY event_id""".stripMargin,
    // session cut identical to the sessionize oracle; the session's
    // first event picked by a struct min so the (ts, event_id) winner
    // carries its event_type with it on both engines
    "attribution_first_touch" ->
      s"""$EvSql, lagged AS (
         |  SELECT user_id, event_id, ts_us, event_type, value,
         |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
         |  FROM ev
         |), flagged AS (
         |  SELECT user_id, event_id, ts_us, event_type, value,
         |    CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
         |  FROM lagged
         |), sess AS (
         |  SELECT user_id, event_id, ts_us, event_type, value,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM flagged
         |), per AS (
         |  SELECT user_id, sid,
         |    min(struct_pack(ts := ts_us, eid := event_id, et := event_type)) AS first,
         |    sum(value) AS sess_value
         |  FROM sess GROUP BY user_id, sid
         |)
         |SELECT first['et'] AS touch_type, count(*) AS n_sessions,
         |  round(sum(sess_value), 2) AS total_value
         |FROM per GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    "range_join" ->
      """SELECT date_diff('day', o_orderdate, l_shipdate) AS lag_days, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE date_diff('day', o_orderdate, l_shipdate) BETWEEN 0 AND 30
        |GROUP BY lag_days ORDER BY lag_days""".stripMargin,
    "percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 2) AS p99
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the sketch keys oracle their accuracy CONTRACT: exact values plus
    // all-true bound flags — Spark computes the flags from the real
    // sketch, the oracle asserts none of them ever goes false
    "approx_distinct" ->
      """SELECT l_suppkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  true AS within_bound
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "approx_percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
        |  true AS p50_ok, true AS p90_ok, true AS p99_ok
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "cube_agg" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "lead_lag_delta" ->
      s"""$EvSql
         |SELECT event_id, user_id,
         |  coalesce(ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
         |           -1) AS delta_us
         |FROM ev ORDER BY event_id""".stripMargin,
    "window_sliding" ->
      s"""$EvSql, slid AS (
         |  SELECT event_type,
         |    (ts_us // 900000000 - i) * 900000000 AS start_us
         |  FROM ev CROSS JOIN (SELECT unnest(range(4)) AS i)
         |)
         |SELECT strftime(make_timestamp(start_us), '%Y-%m-%d %H:%M:%S') AS win_start,
         |  event_type, count(*) AS n
         |FROM slid GROUP BY start_us, event_type ORDER BY win_start, event_type""".stripMargin,
    "histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin, count(*) AS n
        |FROM orders GROUP BY bin ORDER BY bin""".stripMargin,
    "corr_agg" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    count(*)::HUGEINT AS cn,
        |    sum(CAST(round(l_quantity) AS BIGINT)::HUGEINT) AS sx,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)::HUGEINT) AS sy,
        |    sum(CAST(round(l_quantity) AS BIGINT)::HUGEINT
        |      * CAST(round(l_quantity) AS BIGINT)::HUGEINT) AS sxx,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)::HUGEINT
        |      * CAST(round(l_extendedprice * 100) AS BIGINT)::HUGEINT) AS syy,
        |    sum(CAST(round(l_quantity) AS BIGINT)::HUGEINT
        |      * CAST(round(l_extendedprice * 100) AS BIGINT)::HUGEINT) AS sxy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag,
        |  round((cn * sxy - sx * sy)::DOUBLE /
        |    (sqrt((cn * sxx - sx * sx)::DOUBLE) * sqrt((cn * syy - sy * sy)::DOUBLE)),
        |    6) AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "exact_distinct" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "ntile_quartiles" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "moving_avg" ->
      """SELECT l_suppkey, CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) OVER w AS DOUBLE)
        |    / (count(*) OVER w * 100), 4) AS ma4_rev
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |  CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "set_except" ->
      """SELECT o_custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "rank_stats" ->
      """SELECT o_orderkey, o_orderstatus,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "group_concat" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "funnel_steps" ->
      s"""$EvSql, t1 AS (
         |  SELECT user_id, min(ts_us) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY user_id
         |), t2 AS (
         |  SELECT e.user_id AS user_id, min(e.ts_us) AS t2
         |  FROM ev e JOIN t1 ON e.user_id = t1.user_id
         |  WHERE e.event_type = 'click' AND e.ts_us > t1.t1 GROUP BY e.user_id
         |), t3 AS (
         |  SELECT e.user_id AS user_id, min(e.ts_us) AS t3
         |  FROM ev e JOIN t2 ON e.user_id = t2.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts_us > t2.t2 GROUP BY e.user_id
         |)
         |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, count(*) AS n_users FROM t1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'click', count(*) FROM t2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM t3
         |ORDER BY step""".stripMargin,
    "retention_cohorts" ->
      s"""$EvSql, days AS (
         |  SELECT DISTINCT user_id, ts_us // 86400000000 AS day FROM ev
         |), fs AS (
         |  SELECT user_id, min(day) AS cohort FROM days GROUP BY user_id
         |)
         |SELECT cohort, day - cohort AS day_offset, count(DISTINCT d.user_id) AS n_users
         |FROM days d JOIN fs f ON d.user_id = f.user_id
         |WHERE day - cohort <= 7
         |GROUP BY cohort, day_offset ORDER BY cohort, day_offset""".stripMargin,
    "grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin,
    "salted_join" ->
      """SELECT o_orderstatus,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}
