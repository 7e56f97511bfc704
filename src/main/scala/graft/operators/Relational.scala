package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational engine breadth: columnar scan+agg, broadcast dimension join,
  * tumbling-window event aggregation (C1-C3).
  *
  * Money sums use per-row rounding to integer cents then exact bigint
  * summation — order-independent, so identical on Spark and the DuckDB
  * oracle regardless of partitioning (a plain double sum is not).
  */
object Relational {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** TPC-H-Q1-flavoured pricing summary over lineitem (C1). Narrow scan →
    * single partial-aggregated shuffle on the two low-cardinality keys;
    * projection and the shipdate filter push into the parquet scan. */
  def lineitemAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
        count(lit(1)).as("n_rows"),
        round(avg(col("l_quantity")), 6).as("avg_qty"))

  /** Full TPC-H Q1 (C88): all eight pricing-summary aggregates —
    * [[lineitemAgg]] is the round-2 subset kept stable; this is the
    * literal query, completing q1..q22. Sums accumulate exact cents;
    * the discount average goes through exact basis points (a raw
    * double-column avg would sum binary-inexact values in shuffle
    * order), and every double sum stays in the exactly-representable
    * range at any partitioning. One partial-agg shuffle onto the
    * 6-row (returnflag, linestatus) key. */
  def tpchQ1(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")))).as("sum_charge_cents"),
        round(sum(col("l_quantity").cast("long")).cast("double") / count(lit(1)), 6)
          .as("avg_qty"),
        round(sum(cents(col("l_extendedprice"))).cast("double") / count(lit(1)), 6)
          .as("avg_price_cents"),
        round(sum(round(col("l_discount") * 10000).cast("long")).cast("double")
          / count(lit(1)) / 10000.0, 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Revenue per nation: orders ⋈ customer ⋈ nation (C2). nation (25 rows)
    * is explicitly broadcast; orders⋈customer shuffles on custkey once —
    * at cluster scale both sides would be bucketed on custkey. */
  def ordersJoin(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("revenue_cents"))

  /** Per-user running totals over the event stream (C13): cumulative
    * count and exact integer-cents sum, ordered by (ts, event_id). One
    * shuffle on user_id; windows sort within partition. */
  def eventsCumulative(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    events
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), cents(col("value")).as("v_cents"))
      .select(col("event_id"), col("user_id"), col("us"),
        count(lit(1)).over(w).as("cum_events"),
        sum(col("v_cents")).over(w).as("cum_cents"))
  }

  /** Top-N orders by price per nation (C14) — an oracle-checked query
    * that runs through the custom TopKPerKey heap operator
    * (graft.plans.TopK) with the final ranking done on the <=N survivors. */
  def topOrdersPerNation(orders: DataFrame, customer: DataFrame, nation: DataFrame,
                         n: Int = 3): DataFrame = {
    val joined = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .select(col("n_name"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    val pruned = graft.plans.TopK.topKPerKey(
      joined, Seq("n_name"), Seq("price_cents" -> false, "o_orderkey" -> true), n)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_name").orderBy(col("price_cents").desc, col("o_orderkey"))
    pruned.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= n)
      .select("n_name", "o_orderkey", "rnk", "price_cents")
  }

  /** Hierarchical aggregates via ROLLUP (C15): (lang, source) → per-lang →
    * grand total in ONE pass. Spark expands the grouping sets inside the
    * partial aggregate, so all three levels cost a single shuffle instead
    * of three queries; `grouping_id` disambiguates the NULL-keyed
    * subtotal rows from genuine NULL group values. */
  def rollupStats(docs: DataFrame): DataFrame =
    docs.rollup(col("lang"), col("source"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .select("lang", "source", "gid", "n_docs", "sum_chars", "avg_chars")

  /** Anti-join breadth (C20): customers that never ordered, counted per
    * nation. The left-anti join shuffles both sides on custkey once and
    * emits only non-matching build-side rows — the relational NOT EXISTS,
    * with no row blow-up possible; nation stays broadcast. */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame,
                             nation: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"))

  /** Global ranking breadth (C21): per-user totals, then global
    * rank / percent_rank / quartile via [[Ranks.withGlobalRowNumber]] —
    * the range-partitioned two-pass rank, NOT a single-partition
    * `Window.orderBy`. The per-user frame grows with the data, so at
    * 100× users an unpartitioned window lands every user on one task;
    * here every partition sorts its range slice in parallel and
    * percent_rank/ntile derive arithmetically from (rank, n). The
    * (total_cents desc, user_id) order is total, so results are
    * deterministic and rank == row_number. */
  def userSpendRank(events: DataFrame): DataFrame = {
    val totals = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("total_cents"))
    Ranks.withGlobalRowNumber(totals, "rnk", "_n",
        Seq(col("total_cents").desc, col("user_id")))
      .select(col("user_id"), col("n_events"), col("total_cents"),
        col("rnk").cast("long").as("rnk"),
        round(Ranks.percentRankFromRank(col("rnk"), col("_n")), 6).as("pct_rank"),
        Ranks.ntileFromRank(col("rnk"), col("_n"), 4).cast("long").as("quartile"))
  }

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Wide per-user activity matrix via pivot with a FIXED value list
    * (C16): passing the values avoids the driver-side distinct scan
    * Spark otherwise runs on the pivot column — at 100 TB that scan is a
    * full pass before planning even starts. One shuffle on user_id;
    * counts and exact integer-cents sums per event type, absent
    * combinations as 0 rather than null. */
  def pivotEvents(events: DataFrame): DataFrame = {
    val p = events
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("cents"))
    p.select(col("user_id") +: EventTypes.flatMap(t => Seq(
      coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
      coalesce(col(s"${t}_cents"), lit(0L)).as(s"${t}_cents"))): _*)
  }

  /** Tumbling 1-hour window aggregation over events (C3) — the batch twin
    * of the Structured Streaming query in graft.streaming.Events. */
  def eventsWindow(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_cents"))

  /** Sliding-window aggregation (C47): 1-hour windows advancing every 30
    * minutes — each event lands in exactly window/slide = 2 windows, so
    * the expansion factor is a planned constant (what distinguishes
    * sliding from the unbounded row growth of a naive self-join
    * formulation). Spark's native `window(slide)` generates the slots
    * inside codegen; one partial-agg shuffle on (window, type). The same
    * expression runs under Structured Streaming with a watermark. */
  def eventsSliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n_events"), col("sum_value_cents"))

  /** Semi-join breadth (C23): customers that DID order, per nation — the
    * relational EXISTS. Like the anti-join, left_semi emits each build
    * row at most once, so no row blow-up regardless of order count per
    * customer; one shuffle on custkey, nation broadcast. */
  def customersWithOrders(customer: DataFrame, orders: DataFrame,
                          nation: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"))

  /** Full CUBE over (lang, source) (C24): all four grouping sets —
    * (lang,source), (lang), (source), () — expanded inside ONE partial
    * aggregate, one shuffle total, vs four separate queries re-scanning
    * the corpus. grouping_id disambiguates subtotal NULLs. */
  def cubeStats(docs: DataFrame): DataFrame =
    docs.cube(col("lang"), col("source"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .select("lang", "source", "gid", "n_docs", "sum_chars", "avg_chars")

  /** Sliding 1-hour LOOK-BACK per event (C25): for every event, the count
    * and exact cents sum of the same user's events in [ts-1h, ts] — a
    * RANGE frame over the microsecond timestamp, the feature-engineering
    * "activity in the last hour" signal. One shuffle on user_id, one
    * per-partition sort; the frame is computed in a single ordered pass
    * (no self-join, no per-event re-scan). */
  def eventsRolling(events: DataFrame, windowUs: Long = 3600000000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us").rangeBetween(-windowUs, 0)
    events
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), cents(col("value")).as("v_cents"))
      .select(col("event_id"), col("user_id"), col("us"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("v_cents")).over(w).as("cents_1h"))
  }

  /** Binned interval join (C26): every left row pairs with the right rows
    * of the same key whose timestamp falls in [leftTs - window, leftTs].
    * Spark plans a raw range predicate as a broadcast-nested-loop over
    * every same-key pair; instead both sides are bucketed into
    * window-sized time bins and equi-joined on (key, bin) — each left row
    * probes exactly two bins (its own and the previous), so matching cost
    * tracks TRUE matches, and the shuffle is a plain hash partition. */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
                leftTs: String, rightTs: String, windowUs: Long): DataFrame = {
    def binOf(c: String) = expr(s"$c div CAST($windowUs AS BIGINT)")
    val probe = left.withColumn("_bin",
      explode(array(binOf(leftTs) - 1, binOf(leftTs))))
    val build = right.withColumn("_bin", binOf(rightTs))
    probe.join(build, Seq(key, "_bin"))
      .filter(col(rightTs) >= col(leftTs) - windowUs && col(rightTs) <= col(leftTs))
      .drop("_bin")
  }

  /** Binned interval OVERLAP join (C100): all (left, right) interval
    * pairs with [ls,le] ∩ [rs,re] ≠ ∅ — the sessions × campaign-windows
    * / readings × maintenance-windows shape. A raw overlap predicate
    * (`ls <= re && rs <= le`, no equi-key) plans as a broadcast nested
    * loop over ALL pairs; here every interval registers in each
    * `binUs`-sized time bin it touches and candidates equi-join on the
    * bin, so matching cost tracks true overlap locality and the shuffle
    * hash-partitions. A pair overlapping across several shared bins
    * would duplicate — the match is kept ONLY in the bin containing the
    * overlap's start (`greatest(ls, rs)`), which exactly one bin does:
    * dedup by arithmetic, no distinct shuffle. Choose `binUs` near the
    * typical interval length: the explode factor is
    * interval_len/binUs + 1 per row (a months-long interval against an
    * hours-sized bin is the skew case to cap upstream). Timestamps are
    * non-negative epoch micros (truncating div = floor there). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   ls: String, le: String, rs: String, re: String,
                   binUs: Long): DataFrame = {
    def binOf(c: String) = expr(s"$c div CAST($binUs AS BIGINT)")
    val lb = left.withColumn("_bin",
      explode(sequence(binOf(ls), binOf(le))))
    val rb = right.withColumn("_bin",
      explode(sequence(binOf(rs), binOf(re))))
    lb.join(rb, Seq("_bin"))
      .filter(col(ls) <= col(re) && col(rs) <= col(le))
      .filter(col("_bin") === expr(
        s"greatest($ls, $rs) div CAST($binUs AS BIGINT)"))
      .drop("_bin")
  }

  /** The C100 query surface: per-user DAILY activity intervals
    * ([min ts, max ts] within each day — one tiny agg) overlap-joined
    * against 48 synthetic 90-minute "campaign windows" striding 7 h
    * from the corpus epoch, reporting the exact overlap duration. The
    * window table is config-sized and both sides bin at 90 min, so
    * every activity interval registers in a handful of bins. */
  def intervalJoinQuery(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val acts = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("user_id", "day")
      .agg(min(col("us")).as("a_start"), max(col("us")).as("a_end"))
    // 2024-01-01T00:00:00Z in epoch micros — a literal, not a
    // Timestamp.valueOf (which would read the JVM default timezone)
    val epochUs = 1704067200000000L
    val windows = spark.range(48)
      .select(col("id").as("window_id"),
        (lit(epochUs) + col("id") * lit(7L * 3600L * 1000000L)).as("w_start"))
      .withColumn("w_end", col("w_start") + lit(90L * 60L * 1000000L))
    intervalJoin(acts, windows, "a_start", "a_end", "w_start", "w_end",
        90L * 60L * 1000000L)
      .select(col("user_id"), col("day"), col("window_id"),
        (least(col("a_end"), col("w_end"))
          - greatest(col("a_start"), col("w_start"))).as("overlap_us"))
  }

  /** TPC-H Q3 shape (C29): shipping-priority revenue — customer ⋈ orders
    * ⋈ lineitem with selective filters on all three tables, grouped by
    * order, top 10 by revenue. The segment filter prunes customer BEFORE
    * the join (pushed into its scan) and the date filters push into the
    * orders/lineitem scans; the filtered customer side is small, so AQE
    * broadcasts it into the orders join and only the orders⋈lineitem join
    * shuffles (on orderkey — the join both tables would be bucketed on at
    * cluster scale). The top-10 sorts the POST-aggregation frame. */
  def tpchQ3(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
             segment: String = "BUILDING", cutoff: String = "1998-01-01"): DataFrame =
    customer.filter(col("c_mktsegment") === segment)
      .join(orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_orderkey"))
      .limit(10)

  /** Correlated scalar subquery (C30): orders priced above their own
    * customer's average order price — expressed as SQL so Catalyst's
    * decorrelation rewrites the per-row subquery into ONE aggregate of
    * orders plus an equi-join (verify with explain: no per-row re-scan
    * survives). Prices compare in exact integer cents; the average
    * divides an exact long sum, so both engines agree bit-for-bit. */
  def ordersAboveCustomerAvg(orders: DataFrame): DataFrame = {
    val view = "graft_orders_cents"
    orders.select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_cents"))
      .createOrReplaceTempView(view)
    orders.sparkSession.sql(
      s"""SELECT o_orderkey, o_custkey, price_cents FROM $view o
         |WHERE price_cents > (SELECT avg(price_cents) FROM $view i
         |                     WHERE i.o_custkey = o.o_custkey)""".stripMargin)
  }

  /** Per-language char moments via the ExactMoments typed UDAF (C43):
    * count / sum / sum-of-squares accumulate as exact longs inside the
    * custom Aggregator (merge-order-free), mean and variance derive from
    * the finished buffer as one deterministic double expression each. */
  def langCharMoments(docs: DataFrame): DataFrame = {
    val m = udaf(graft.functions.ExactMoments)
    docs.groupBy(col("lang"))
      .agg(m(col("n_chars")).as("mom"))
      .select(col("lang"),
        col("mom.n").as("n_docs"), col("mom.sum").as("sum_chars"),
        col("mom.sumSq").as("sumsq_chars"),
        round(col("mom.sum").cast("double") / col("mom.n"), 6).as("mean_chars"),
        round((col("mom.sumSq").cast("double") -
          col("mom.sum").cast("double") * col("mom.sum") / col("mom.n"))
          / col("mom.n"), 6).as("var_chars"))
  }

  /** Explicit GROUPING SETS (C44): exactly the (lang) and (source)
    * subtotal rows — neither the (lang, source) detail nor the grand
    * total that ROLLUP/CUBE would force — still ONE pass / one shuffle.
    * SQL-expressed: the DataFrame API exposes only rollup/cube. */
  def groupingSetsStats(docs: DataFrame): DataFrame = {
    val view = "graft_docs_gs"
    docs.createOrReplaceTempView(view)
    docs.sparkSession.sql(
      s"""SELECT lang, source, grouping_id(lang, source) AS gid,
         |  count(*) AS n_docs, sum(n_chars) AS sum_chars
         |FROM $view GROUP BY GROUPING SETS ((lang), (source))""".stripMargin)
  }

  /** Order seasonality (C45): revenue by calendar year and month — the
    * date-dimension rollup every BI layer runs; year/month extraction is
    * codegen'd and the aggregate is one partial-agg shuffle over at most
    * years×12 groups. */
  def orderSeasonality(orders: DataFrame): DataFrame =
    orders.groupBy(
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("revenue_cents"))

  /** TPC-H Q5 shape (C41): local-supplier volume — six tables, with the
    * whole dimension chain (region → nation → supplier, and customer)
    * broadcast so ONLY the orders⋈lineitem join shuffles; the
    * same-nation condition (customer's nation = supplier's nation) is a
    * post-join filter on two broadcast columns, not another shuffle. The
    * region filter prunes the chain at its root before anything moves. */
  def tpchQ5(region: DataFrame, nation: DataFrame, supplier: DataFrame,
             customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
             regionName: String = "ASIA"): DataFrame = {
    val natInRegion = nation
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = supplier.join(broadcast(natInRegion),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_cents"),
        count(lit(1)).as("n_items"))
  }

  /** Part-type pricing profile (C42): lineitem ⋈ part with the part
    * dimension broadcast — revenue and quantity by part type and brand,
    * the classic star-schema rollup over the one big fact table. */
  def partTypeRevenue(part: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_type"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))

  /** TPC-H Q18 shape (C49): customers with large-quantity orders. The
    * fact table is PRE-AGGREGATED to per-order quantity and filtered to
    * the rare big orders BEFORE any join — the surviving key set is tiny,
    * so both the orders probe and the customer lookup join against a
    * broadcast, and the big lineitem table is touched exactly once. A
    * join-then-aggregate phrasing would shuffle the full fact table
    * twice. Top 100 by (o_totalprice desc, o_orderkey) via TakeOrdered —
    * no global sort materializes. */
  def tpchQ18(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
              qtyMin: Double = 300.0): DataFrame = {
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
      .filter(col("sum_qty") > qtyMin)
    orders
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        cents(col("o_totalprice")).as("total_cents"), col("sum_qty"))
      .orderBy(col("total_cents").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Declarative MERGE / CDC apply (C50): base ⟗ changes on the key, then
    * per-row resolution — delete wins, upsert takes the change payload,
    * untouched base rows pass through. One full-outer shuffle on the key;
    * at 100 TB the base side is bucketed on the key so only the (small)
    * change batch moves — the Delta/Iceberg MERGE INTO shape expressed as
    * a plain join. `changes` carries (doc_id, op, n_chars). */
  def mergeUpsert(base: DataFrame, changes: DataFrame): DataFrame =
    base
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(changes.select(col("doc_id"), col("op"),
        col("n_chars").as("new_n_chars"), col("lang").as("new_lang"),
        col("source").as("new_source")), Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("doc_id"),
        coalesce(col("new_lang"), col("lang")).as("lang"),
        coalesce(col("new_source"), col("source")).as("source"),
        coalesce(col("new_n_chars"), col("n_chars")).as("n_chars"),
        when(col("op").isNull, "base")
          .when(col("lang").isNull, "inserted").otherwise("updated")
          .as("row_origin"))

  /** Full outer join (C35): per-user purchase totals ⟗ click totals —
    * users who purchase without clicking AND users who click without
    * purchasing both survive, with absent sides coalesced to zero. Both
    * inputs are pre-aggregated (|users| rows), so the full-outer shuffle
    * joins two already-reduced frames — the raw event stream is never
    * full-outer-joined at any scale. */
  def purchaseClickFull(events: DataFrame): DataFrame = {
    def side(kind: String, pfx: String) =
      events.filter(col("event_type") === kind)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as(s"${pfx}_n"), sum(cents(col("value"))).as(s"${pfx}_cents"))
    side("purchase", "purchase")
      .join(side("click", "click"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("purchase_n"), lit(0L)).as("purchase_n"),
        coalesce(col("purchase_cents"), lit(0L)).as("purchase_cents"),
        coalesce(col("click_n"), lit(0L)).as("click_n"),
        coalesce(col("click_cents"), lit(0L)).as("click_cents"))
  }

  /** Set operations (C36): event-type audience overlap via INTERSECT and
    * EXCEPT — viewers who purchased, viewers who never purchased, and
    * purchasers who never viewed, labeled and unioned. Spark plans both
    * as (semi/anti) hash joins over the distinct user sets, which are
    * pre-reduced by the distinct before any join. */
  def audienceSetOps(events: DataFrame): DataFrame = {
    def users(kind: String) =
      events.filter(col("event_type") === kind).select("user_id").distinct()
    val viewers = users("view"); val buyers = users("purchase")
    viewers.intersect(buyers).withColumn("segment", lit("view_and_buy"))
      .unionByName(viewers.except(buyers).withColumn("segment", lit("view_only")))
      .unionByName(buyers.except(viewers).withColumn("segment", lit("buy_only")))
      .select("segment", "user_id")
  }

  /** Window-function breadth (C37): lead/lag/first/last navigation over
    * each user's event sequence — previous/next event gap and each
    * event's offset from the session-leading event. One shuffle on
    * user_id, one per-partition sort, all four functions in the same
    * window pass. */
  def eventsLeadLag(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wAll = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    events
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .select(col("event_id"), col("user_id"), col("us"),
        coalesce(col("us") - lag(col("us"), 1).over(w), lit(-1L)).as("gap_prev_us"),
        coalesce(lead(col("us"), 1).over(w) - col("us"), lit(-1L)).as("gap_next_us"),
        (col("us") - first(col("us")).over(wAll)).as("since_first_us"),
        (last(col("us")).over(wAll) - col("us")).as("until_last_us"))
  }

  /** TPC-H Q7 shape (C51): bilateral shipping volume between two nations
    * by year. Both nation-tagged key maps (supplier→nation,
    * customer→nation) are broadcast — they are dimension-sized — so the
    * only shuffle is the lineitem⋈orders fact-fact join on orderkey; the
    * nation-pair predicate then prunes before the 3-key aggregate.
    * Revenue in exact integer cents. */
  def tpchQ7(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame,
             customer: DataFrame, nation: DataFrame,
             n1: String = "NATION_18", n2: String = "NATION_19"): DataFrame = {
    val pair = nation.filter(col("n_name").isin(n1, n2))
    val sn = supplier.join(broadcast(pair.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cn = customer.join(broadcast(pair.select(col("n_nationkey"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("cust_nation"))
    lineitem
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === n1 && col("cust_nation") === n2) ||
        (col("supp_nation") === n2 && col("cust_nation") === n1))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
  }

  /** TPC-H Q6 shape (C53): the pure scan-filter-aggregate forecast query
    * — no join at all. Every predicate (shipdate year, discount band,
    * quantity cap) pushes into the parquet scan, so the executed plan is
    * scan → partial agg → single-row exchange; at 100 TB this is the
    * query that proves pushdown works, because a scan that reads even
    * one extra column or row group shows up directly. */
  def tpchQ6(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"))

  /** TPC-H Q19 shape (C54): disjunctive brand/size/quantity predicate
    * groups across the part join. part is dimension-sized → broadcast;
    * the quantity bounds (the union of all branches) still push into the
    * lineitem scan, and each branch's full predicate applies post-join —
    * the OR-of-ANDs shape optimizers historically mishandled. */
  def tpchQ19(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val branch1 = col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#2" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#3" &&
      col("p_size").between(20, 50) && col("l_quantity").between(20, 30)
    lineitem
      .filter(col("l_quantity").between(1, 30))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(branch1 || branch2 || branch3)
      .agg(
        count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
  }

  /** TPC-H Q10 shape (C52): returned-item revenue per customer for one
    * quarter, top 20. The order-date filter pushes into the parquet
    * scan; the returnflag filter prunes lineitem before its only
    * shuffle (join on orderkey); nation broadcasts. Top-20 is
    * deterministic on exact cents with custkey tiebreak. */
  def tpchQ10(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
              nation: DataFrame, qStart: String = "1996-01-01",
              qEnd: String = "1996-04-01"): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit(qStart).cast("timestamp") &&
        col("o_orderdate") < lit(qEnd).cast("timestamp"))
      .join(lineitem.filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q4 shape (C55): order-priority checking. The slim schema has
    * no commit/receipt dates, so "late" = EXISTS a line shipped after the
    * order date. The EXISTS is a left-semi join — each order emits at most
    * once no matter how many late lines it has, so there is no row blow-up
    * and no post-join distinct; the quarter filter pushes into the orders
    * scan and prunes the probe side before its one shuffle on orderkey. */
  def tpchQ4(orders: DataFrame, lineitem: DataFrame,
             qStart: String = "1996-07-01", qEnd: String = "1996-10-01"): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit(qStart).cast("timestamp") &&
        col("o_orderdate") < lit(qEnd).cast("timestamp"))
      .join(lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))

  /** TPC-H Q12 shape (C56): priority mix per category — conditional
    * aggregation (SUM of CASE) after the fact-fact join, the "one scan,
    * many conditional counts" idiom that replaces N filtered queries.
    * The slim schema has no shipmode; l_returnflag is the category. The
    * ship-year filter prunes lineitem before its single shuffle. */
  def tpchQ12(orders: DataFrame, lineitem: DataFrame, year: Int = 1996): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem
      .filter(col("l_shipdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("l_shipdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
      .join(orders.select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** TPC-H Q13 shape (C57): customer order-count distribution — a LEFT
    * join (zero-order customers must survive with count 0) into a
    * two-level aggregate. The first groupBy reduces to |customers| rows
    * on the join shuffle's own partitioning; the second aggregates that
    * already-reduced frame, so the fact table shuffles exactly once. */
  def tpchQ13(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q14 shape (C58): promo revenue share for one month. part is
    * dimension-sized → broadcast; the month filter pushes into the
    * lineitem scan, so the plan is scan → broadcast-probe → single-row
    * agg with NO shuffle join at all. Both revenue legs are exact cent
    * sums; only the final percentage divides (rounded to 6 dp). */
  def tpchQ14(lineitem: DataFrame, part: DataFrame,
              mStart: String = "1996-03-01", mEnd: String = "1996-04-01"): DataFrame = {
    val disc = cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
    lineitem
      .filter(col("l_shipdate") >= lit(mStart).cast("timestamp") &&
        col("l_shipdate") < lit(mEnd).cast("timestamp"))
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", disc).otherwise(0L)).as("promo_cents"),
        sum(disc).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        round(lit(100.0) * col("promo_cents").cast("double")
          / col("total_cents").cast("double"), 6).as("promo_pct"))
  }

  /** TPC-H Q15 shape (C59): top supplier(s) by quarterly revenue. The
    * fact table pre-aggregates to per-supplier cents (one shuffle), the
    * global max of that tiny frame broadcasts back as a scalar filter,
    * and the supplier name lookup is a broadcast probe — the classic
    * "view + max" query with no second pass over lineitem and exact-cents
    * ties kept (both engines agree on long equality, unlike doubles). */
  def tpchQ15(supplier: DataFrame, lineitem: DataFrame,
              qStart: String = "1996-01-01", qEnd: String = "1996-04-01"): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate") >= lit(qStart).cast("timestamp") &&
        col("l_shipdate") < lit(qEnd).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("total_revenue_cents"))
    val mx = rev.agg(max(col("total_revenue_cents")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue_cents") === col("mx"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_cents"))
  }

  /** TPC-H Q16 shape (C60): how many distinct suppliers can deliver each
    * part profile. No partsupp table — the (part, supplier) association
    * is DISTINCT over lineitem's (l_partkey, l_suppkey), which reduces the
    * fact table to bounded pairs in its one shuffle. Suppliers in bad
    * standing (negative balance — the comment-complaint proxy) leave via
    * a broadcast anti-join; the part filter broadcasts. countDistinct
    * runs on the already-distinct pairs, so the final agg is cheap. */
  def tpchQ16(supplier: DataFrame, part: DataFrame, lineitem: DataFrame,
              excludeBrand: String = "Brand#5"): DataFrame =
    lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(part
          .filter(col("p_brand") =!= excludeBrand && col("p_type") =!= "PROMO")
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier.filter(col("s_acctbal") < 0).select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  /** TPC-H Q17 shape (C61): revenue lost to small-quantity orders — the
    * correlated "below 20% of this part's average quantity" predicate,
    * decorrelated by hand into a per-part aggregate joined back. The
    * brand filter broadcasts into BOTH passes, so lineitem is pruned to
    * one brand before either shuffle; quantities are integral doubles, so
    * avg is exact and the 0.2× threshold compares identically in both
    * engines. */
  def tpchQ17(lineitem: DataFrame, part: DataFrame,
              brand: String = "Brand#4"): DataFrame = {
    val keys = broadcast(part.filter(col("p_brand") === brand).select(col("p_partkey")))
    val li = lineitem.join(keys, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val thr = li.groupBy(col("l_partkey"))
      .agg((avg(col("l_quantity")) * 0.2).as("qty_thr"))
    li.join(broadcast(thr), Seq("l_partkey"))
      .filter(col("l_quantity") < col("qty_thr"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice"))).as("price_cents"))
      .select(col("n_items"), col("price_cents"),
        round(col("price_cents").cast("double") / 700.0, 6).as("avg_yearly"))
  }

  /** TPC-H Q22 shape (C62): dormant high-balance customers. The global
    * positive-balance average computes on exact cents (sum/count longs,
    * divided once as doubles — identical on both engines), broadcasts as
    * a scalar, and "dormant" (no order since the cutoff — the corpus is
    * dense, so Q22's literal "never ordered" would be empty) is an
    * anti-join against the date-pruned orders scan. Grouped by market
    * segment (the phone-prefix stand-in). */
  def tpchQ22(customer: DataFrame, orders: DataFrame,
              cutoff: String = "1999-01-01"): DataFrame = {
    val bal = cents(col("c_acctbal"))
    val thr = customer.filter(col("c_acctbal") > 0)
      .agg((sum(bal).cast("double") / count(lit(1))).as("avg_bal_cents"))
    customer
      .crossJoin(broadcast(thr))
      .filter(bal.cast("double") > col("avg_bal_cents"))
      .join(orders.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"), sum(bal).as("sum_bal_cents"))
  }

  /** Rolling z-score anomaly detection (C63): each event scored against
    * the same user's trailing 20 events (exclusive of itself) — the
    * streaming-adjacent "is this spend unusual for this user" monitor as
    * one window pass: count/sum/sum-of-squares accumulate as exact longs
    * in a single ROWS frame, mean and variance derive from the finished
    * longs with the same expression order as the DuckDB twin, and only
    * events with ≥5 priors and non-degenerate variance are scored. One
    * shuffle on user_id, one per-partition sort, no self-join.
    *
    * Exact-long sum-of-squares bounds the per-event magnitude: a
    * `lookback`-row frame stays below Long.MaxValue only while
    * |v_cents| <= sqrt(Long.MaxValue / lookback) (~6.79e8 cents, ~$6.8M,
    * at the default 20). DuckDB raises on BIGINT overflow; rather than
    * silently wrapping where the oracle errors, any out-of-range event
    * raises here too (raise_error inside the projection — a branch per
    * row, never taken on valid data). */
  def eventsAnomaly(events: DataFrame, lookback: Int = 20, minPrev: Int = 5,
                    zMin: Double = 3.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(-lookback, -1)
    val maxAbs = math.sqrt(Long.MaxValue.toDouble / lookback).toLong - 1
    val guarded = when(abs(cents(col("value"))) > maxAbs,
      raise_error(concat(lit(s"events_anomaly: |value_cents| exceeds $maxAbs " +
        s"(exact sum-of-squares would overflow a ${lookback}-row frame): "),
        col("value").cast("string"))).cast("long"))
      .otherwise(cents(col("value")))
    val scored = events
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), guarded.as("v_cents"))
      .select(col("event_id"), col("user_id"), col("us"), col("v_cents"),
        count(lit(1)).over(w).as("n_prev"),
        sum(col("v_cents")).over(w).as("s"),
        sum(col("v_cents") * col("v_cents")).over(w).as("ss"))
      .filter(col("n_prev") >= minPrev)
      .withColumn("mean_c", col("s").cast("double") / col("n_prev"))
      .withColumn("var_c",
        (col("ss").cast("double") - col("s").cast("double") * col("s") / col("n_prev"))
          / col("n_prev"))
      .filter(col("var_c") > 0)
      .withColumn("z",
        round((col("v_cents").cast("double") - col("mean_c")) / sqrt(col("var_c")), 6))
    scored.filter(abs(col("z")) >= zMin)
      .select(col("event_id"), col("user_id"), col("us"), col("v_cents"),
        col("n_prev"), col("z"))
  }

  /** TPC-H Q8 shape (C67): national market share — the target nation's
    * slice of a region's revenue in one part segment, by year. Every
    * dimension input (region-filtered customers, part filter, nation-
    * tagged suppliers) broadcasts; the only shuffle is orders⋈lineitem
    * on orderkey. Both revenue legs are exact cent sums per year; the
    * share divides once as doubles. */
  def tpchQ8(region: DataFrame, nation: DataFrame, customer: DataFrame,
             supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
             part: DataFrame, regionName: String = "ASIA",
             targetNation: String = "NATION_18", pType: String = "PROMO"): DataFrame = {
    val disc = cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
    val natR = nation
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = customer.join(broadcast(natR), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val sup = supplier
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(part.filter(col("p_type") === pType).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === targetNation, disc).otherwise(0L))
          .as("nation_cents"),
        sum(disc).as("total_cents"))
      .select(col("o_year"), col("nation_cents"), col("total_cents"),
        round(col("nation_cents").cast("double") / col("total_cents").cast("double"), 6)
          .as("mkt_share"))
  }

  /** TPC-H Q21 shape (C68): suppliers who kept a multi-supplier order
    * waiting — the only supplier late on an order others fulfilled on
    * time. The classic phrasing is EXISTS + NOT EXISTS re-scans of
    * lineitem; here both collapse into ONE per-order conditional
    * aggregate (distinct suppliers vs distinct late suppliers), so the
    * fact table shuffles once for the flag join and once for the
    * per-order reduce — no correlated re-scan at any scale. "Late" =
    * shipped more than `lateDays` after the order date (the slim schema
    * has no commit/receipt dates). */
  def tpchQ21(supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
              lateDays: Int = 60): DataFrame = {
    val lo = lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
          .as("late"))
    val per = lo.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .select(col("l_orderkey"))
    lo.filter(col("late")).select(col("l_orderkey"), col("l_suppkey")).distinct()
      .join(per, "l_orderkey")
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** TPC-H Q2 shape (C70): minimum-cost supplier per part — the
    * correlated-min over a multi-table dimension chain. The slim schema
    * has no partsupp, so the (part, supplier) cost table DERIVES from
    * lineitem (min observed price cents per pair) — one fact shuffle
    * that every later step probes via broadcast. The per-part min is a
    * dims-bounded aggregate broadcast back (hand-decorrelated, like
    * Q17); region-filtered suppliers broadcast. Exact-cents ties keep
    * every minimal supplier, top 20 by balance with full tiebreak. */
  def tpchQ2(region: DataFrame, nation: DataFrame, supplier: DataFrame,
             part: DataFrame, lineitem: DataFrame, regionName: String = "EUROPE",
             size: Int = 15, pType: String = "SMALL"): DataFrame = {
    val ps = lineitem.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(cents(col("l_extendedprice"))).as("cost_cents"))
    val natR = nation
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = supplier.join(broadcast(natR), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), cents(col("s_acctbal")).as("bal_cents"),
        col("n_name"))
    val cand = ps
      .join(broadcast(part
          .filter(col("p_size") === size && col("p_type") === pType)
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
    val minCost = cand.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("cost_cents")).as("min_cost"))
    cand.join(broadcast(minCost),
        col("p_partkey") === col("mk") && col("cost_cents") === col("min_cost"))
      .select(col("p_partkey"), col("s_suppkey"), col("s_name"), col("n_name"),
        col("bal_cents"), col("cost_cents"))
      .orderBy(col("bal_cents").desc, col("s_suppkey"), col("p_partkey"))
      .limit(20)
  }

  /** TPC-H Q9 shape (C71): product-line profit by supplier nation and
    * year. Unit cost derives from lineitem (min observed per-unit price
    * cents per (part, supplier) — the partsupp stand-in), built once and
    * broadcast; profit = revenue cents − qty·unit-cost cents stays in
    * exact integer arithmetic all the way to the aggregate. The only
    * shuffles are the cost derivation and the lineitem⋈orders join. */
  def tpchQ9(nation: DataFrame, supplier: DataFrame, part: DataFrame,
             orders: DataFrame, lineitem: DataFrame,
             pType: String = "STANDARD"): DataFrame = {
    val unitCost = lineitem.groupBy(col("l_partkey").as("uc_pk"), col("l_suppkey").as("uc_sk"))
      .agg(min(cents(col("l_extendedprice") / col("l_quantity"))).as("unit_cost_cents"))
    val sup = supplier
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    lineitem
      .join(broadcast(part.filter(col("p_type") === pType).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(unitCost),
        col("l_partkey") === col("uc_pk") && col("l_suppkey") === col("uc_sk"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          - col("l_quantity").cast("long") * col("unit_cost_cents")).as("profit_cents"))
  }

  /** TPC-H Q11 shape (C72): important-stock identification — per-part
    * value within one nation's suppliers, kept only where it exceeds a
    * fraction of the nation's total. Value derives from the lineitem
    * cost table (no availqty in the slim schema); the global total is a
    * full-frame window SUM of exact longs (order-independent), and the
    * fraction gate is pure integer arithmetic (value·10000 > total) —
    * no float anywhere. */
  def tpchQ11(nation: DataFrame, supplier: DataFrame, lineitem: DataFrame,
              nationName: String = "NATION_12"): DataFrame = {
    val ps = lineitem.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(cents(col("l_extendedprice"))).as("cost_cents"))
    val supN = supplier
      .join(broadcast(nation.filter(col("n_name") === nationName)
        .select(col("n_nationkey"))), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = ps.join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("cost_cents")).as("value_cents"))
    // The grand total is a two-stage global aggregate broadcast back —
    // NOT a full-frame window, which would move the per-PART frame (it
    // grows with the data) onto a single task. Exact long sum, so the
    // total is order-independent and the filter matches any engine's.
    val total = perPart.agg(sum(col("value_cents")).as("total_cents"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_cents") * 10000L > col("total_cents"))
      .select(col("l_partkey"), col("value_cents"), col("total_cents"))
  }

  /** TPC-H Q20 shape (C73): primary-supplier identification — for every
    * part, the supplier shipping its largest volume (shipped volume
    * standing in for availqty; a fixed >50% dominance gate is empty on
    * this uniform corpus, so the rank-based phrasing keeps the shape
    * verifiable), rolled up to primary-part counts per nation. The fact
    * table reduces to (part, supplier) volumes before the per-part rank;
    * exact-long volumes tie-break on suppkey; the nation map broadcasts. */
  def tpchQ20(nation: DataFrame, supplier: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairQty = lineitem.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("pair_qty"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_partkey").orderBy(col("pair_qty").desc, col("l_suppkey"))
    val primary = pairQty.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val supN = supplier
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    primary.join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_primary_parts"),
        sum(col("pair_qty")).as("sum_primary_qty"))
  }

  /** Weekly cohort retention (C65): users grouped by first-active week,
    * counted in each subsequent week they return — the product-analytics
    * retention triangle. Both frames are per-user-reduced before the
    * join (first-week aggregate; distinct active weeks), and week offsets
    * are exact integer day arithmetic on Monday-truncated weeks, so no
    * float or timezone drift exists between engines. Two shuffles on
    * user_id plus the final small-key aggregate. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val ew = events.select(col("user_id"), date_trunc("week", col("ts")).as("w"))
    val first = ew.groupBy("user_id").agg(min(col("w")).as("cw"))
    ew.distinct()
      .join(first, "user_id")
      .select(col("cw"), (datediff(col("w"), col("cw")) / 7).cast("long").as("week_offset"))
      .groupBy(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Typed JSON payload extraction + aggregate (C27): from_json with an
    * explicit schema (no sampling pass, unlike schema inference) parses
    * the props column inside codegen; the aggregate is then a plain
    * one-shuffle groupBy. */
  def propsExtract(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        from_json(col("props"), "k BIGINT", Map.empty[String, String])
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        round(avg(col("k")), 6).as("avg_k"))

  /** Semi-structured props through Spark 4's VARIANT type (C204): the
    * same per-type k-statistics as [[propsExtract]], but routed through
    * parse_json → VariantType → try_variant_get instead of a fixed
    * from_json schema — the open-schema path for event properties whose
    * keys drift across producers. At scale this is the difference
    * between re-inferring/declaring a struct schema per ingest and
    * storing the binary variant once, shredding fields on read;
    * try_variant_get degrades missing/mistyped keys to NULL instead of
    * failing the batch. */
  def propsVariant(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        try_variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        round(avg(col("k")), 6).as("avg_k"))

  /** Trailing exponentially-weighted moving average per user (C74) —
    * the smoothed-spend baseline next to [[eventsAnomaly]]'s z-score:
    * each event's EWMA over the user's last `lookback` events with
    * decay 1/2 per step back.
    *
    * alpha is deliberately 0.5: every weight 0.5^k is a dyadic rational,
    * exactly representable in a double, so weighted terms and their
    * ordered sum are BIT-EXACT on any engine — no transcendental, no
    * rounding discipline needed until the final divide. The frame list
    * collects in window order (oldest→newest), the fold runs in that
    * same order on both engines, and the weight sum telescopes to
    * 2 − 0.5^(n−1), also exact. One shuffle on user_id, one
    * per-partition sort — same shape as every other window pass. */
  def eventsEwma(events: DataFrame, lookback: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(-(lookback - 1), 0)
    events
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), cents(col("value")).as("v_cents"))
      .withColumn("vs", collect_list(col("v_cents")).over(w))
      .withColumn("n_win", size(col("vs")).cast("long"))
      .select(col("event_id"), col("user_id"), col("us"), col("v_cents"),
        col("n_win"),
        round(
          aggregate(
            zip_with(col("vs"), sequence(lit(1L), col("n_win")),
              (v, i) => v.cast("double") * pow(lit(0.5), col("n_win") - i)),
            lit(0.0), (a, x) => a + x)
            / (lit(2.0) - pow(lit(0.5), (col("n_win") - 1).cast("double"))), 6)
          .as("ewma"))
  }

  /** Gini coefficient of customer spend (C81): revenue-concentration in
    * one number via the rank formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n
    * over ascending spend (custkey ties). All sums are exact longs —
    * the global rank runs on the per-customer reduced frame via the
    * range-partitioned two-pass [[Ranks.withGlobalRowNumber]] (no
    * single-partition sort — the per-customer frame grows with the
    * data), and i·x_i stays within long range while
    * n_customers·max_spend_cents < 2^63 (documented bound; split the
    * rank-sum by range beyond it). The two divides run as doubles in
    * fixed order. */
  def spendGini(orders: DataFrame): DataFrame = {
    val perCust = orders.groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("spend_cents"))
    Ranks.withGlobalRowNumber(perCust, "i", "_n",
        Seq(col("spend_cents"), col("o_custkey")))
      .select(col("spend_cents"), col("i").cast("long").as("i"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("spend_cents")).as("total_cents"),
        sum(col("i").cast("decimal(38,0)") * col("spend_cents")).as("rank_sum"))
      .select(col("n_customers"), col("total_cents"),
        round(
          lit(2.0) * col("rank_sum")
            / (col("n_customers").cast("double") * col("total_cents"))
            - (col("n_customers") + 1).cast("double") / col("n_customers"), 6)
          .as("gini"))
  }

  /** Week-over-week revenue (C82): Monday-truncated weekly cent sums
    * with the previous week's total and the relative change — the
    * reporting staple. One shuffle to the week key (partial-agg
    * reduced), one window pass over the weeks-bounded frame. First week
    * has no predecessor and is excluded (stated, not NULL-padded). */
  def weeklyRevenueWow(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = orders
      .groupBy(date_format(date_trunc("week", col("o_orderdate")), "yyyy-MM-dd")
        .as("week"))
      .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"))
    weekly
      .withColumn("prev_cents",
        lag(col("revenue_cents"), 1).over(Window.orderBy(col("week"))))
      .filter(col("prev_cents").isNotNull)
      .select(col("week"), col("revenue_cents"), col("prev_cents"),
        round((col("revenue_cents") - col("prev_cents")).cast("double")
          / col("prev_cents"), 6).as("wow_change"))
  }

  /** Activity heatmap (C90): event counts and exact cent volume by
    * (ISO day-of-week, hour-of-day) — the seasonality grid every ops
    * dashboard opens with. One partial-agg shuffle onto the 7×24 key;
    * ISO dow (Monday=1) spelled the same on both engines. */
  def eventHeatmap(events: DataFrame): DataFrame =
    events
      .groupBy(
        dayofweek(col("ts")).cast("long").as("dow_sun1"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .select(
        // normalize Spark's Sunday=1 to ISO Monday=1 once, in one place
        (pmod(col("dow_sun1") + 5, lit(7L)) + 1).as("dow"),
        col("hour"), col("n_events"), col("sum_value_cents"))

  /** First-order Markov transition matrix over event types (C87):
    * P(next type | current type) from each user's time-ordered stream —
    * the behavioral fingerprint behind session simulation and anomaly
    * baselines. One lead() pass per user (single shuffle + sort), then
    * counts on the |types|²-bounded pair key; probabilities divide
    * exact longs once. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("to_type", lead(col("event_type"), 1).over(order))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from"), 6).as("p"))
  }

  /** Percentile winsorization of event values (C85): clip each value to
    * its event type's [p05, p95] — the outlier-taming step before any
    * mean-based metric. Exact-interpolated percentiles compute per type
    * (tiny key space, one partial-agg shuffle), round to 4 dp so both
    * engines clip at the identical boundary, broadcast back, and the
    * clip itself is narrow. Flags count on the clipped side so the
    * operator reports how much it changed. */
  def eventsWinsorize(events: DataFrame): DataFrame = {
    val v = events.select(col("event_id"), col("event_type"),
      cents(col("value")).as("v_cents"))
    val bounds = v.groupBy("event_type").agg(
      round(percentile(col("v_cents"), lit(0.05)), 4).as("lo"),
      round(percentile(col("v_cents"), lit(0.95)), 4).as("hi"))
    v.join(broadcast(bounds), "event_type")
      .select(col("event_id"), col("event_type"), col("v_cents"),
        round(greatest(col("lo"), least(col("hi"), col("v_cents").cast("double"))))
          .cast("long").as("clipped_cents"),
        (col("v_cents") < col("lo") || col("v_cents") > col("hi"))
          .cast("long").as("was_clipped"))
  }

  /** Hourly active users (C80): tumbling window, EXACT distinct user
    * count per (hour, event_type). Spark plans count(DISTINCT) as a
    * two-stage Expand aggregate — partial dedup map-side, so the
    * shuffle carries (window, type, user) partials, never raw events.
    * The approximate twin at unbounded cardinality is HLL
    * (approxDistinctTokens shows that path). */
  def windowActiveUsers(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** 2D skyline / Pareto frontier of orders (C79): the orders no other
    * order beats on BOTH recency and value (≥ on both, > on one) — the
    * multi-criteria "best offers" operator family. Computed WITHOUT the
    * quadratic NOT EXISTS self-join the definition suggests: per-date
    * maxima reduce the frame to one row per date (one partial-agg
    * shuffle), a running max over strictly-newer dates marks frontier
    * dates (the global sort runs on the DATE-bounded frame, never the
    * fact table), and a semi-join back recovers the orders achieving
    * them. Equal (date, price) duplicates don't dominate each other and
    * are all kept. The oracle derives the same set INDEPENDENTLY via
    * the NOT EXISTS dominance definition. */
  def orderSkyline(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = orders.select(col("o_orderkey"), col("o_orderdate"),
      cents(col("o_totalprice")).as("price_cents"))
    val byDate = pts.groupBy(col("o_orderdate"))
      .agg(max(col("price_cents")).as("best_cents"))
    val wNewer = Window.orderBy(col("o_orderdate").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = byDate
      .withColumn("max_newer", max(col("best_cents")).over(wNewer))
      .filter(col("max_newer").isNull || col("best_cents") > col("max_newer"))
      .select(col("o_orderdate").as("sky_date"), col("best_cents"))
    pts.join(broadcast(sky),
        col("o_orderdate") === col("sky_date")
          && col("price_cents") === col("best_cents"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("price_cents"))
  }

  /** Inter-arrival time distribution per event type (C77): gaps between
    * a user's consecutive events of the same type, summarized as exact
    * interpolated percentiles (same `percentile` ≡ quantile_cont pairing
    * as charPercentiles) plus an exact mean. The latency/frequency
    * profile behind retention and anomaly baselines. One shuffle on
    * (user_id, event_type) for the lag, one partial-agg shuffle onto the
    * tiny event_type key.
    *
    * SCALE GUARD: the exact `percentile` buffers each event_type group's
    * gaps on one executor — |types| is tiny, so each group is
    * corpus-sized/|types| and WILL exceed executor memory at 100 TB. The
    * 100 TB path is approx_percentile over the same lag frame (the
    * [[graft.operators.TextOps.approxCharPercentiles]] discipline —
    * mergeable sketch, bounded state); this exact name is the small-SF
    * oracle. BASELINE.md ScaleCheck r16 pins the growth. */
  def interarrivalStats(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_gaps"),
        round(sum(col("gap_us")).cast("double") / count(lit(1)), 4).as("mean_us"),
        round(percentile(col("gap_us"), lit(0.5)), 4).as("p50_us"),
        round(percentile(col("gap_us"), lit(0.9)), 4).as("p90_us"),
        max(col("gap_us")).as("max_us"))
  }

  /** RFM customer segmentation (C78): recency (last order date),
    * frequency (order count), monetary (exact cent sum) per customer,
    * each cut into quartiles with deterministic custkey tie-breaks,
    * composed into the classic 3-digit segment code. Each quartile cut
    * is a range-partitioned two-pass rank ([[Ranks.withGlobalRowNumber]]
    * + arithmetic ntile) rather than a single-partition global window —
    * the per-customer frame grows with the data, so the three sorts run
    * partition-parallel and recombine by custkey join. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    // pinned: three quartile rankings + the final join all re-read this
    // per-customer reduction — without the persist the orders scan+agg
    // re-runs once per consumer
    val perCust = CacheTracker.cache(orders.groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("lo"),
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("monetary_cents")))
    rfmFromPerCust(perCust)
  }

  /** The quartile-cut + compose half of [[rfmSegments]], over an
    * already-reduced per-customer (lo, frequency, monetary_cents) frame —
    * factored out so [[rfmMigration]] can fit both history halves from
    * ONE orders scan instead of re-aggregating per half. */
  private def rfmFromPerCust(perCust: DataFrame): DataFrame = {
    // recency quartile 4 = most recent, matching f/m where 4 = best
    def quartile(order: Seq[Column], name: String): DataFrame =
      Ranks.withGlobalRowNumber(perCust, "_rnk", "_n", order)
        .select(col("o_custkey"),
          Ranks.ntileFromRank(col("_rnk"), col("_n"), 4).cast("long").as(name))
    val r = quartile(Seq(col("lo").asc, col("o_custkey")), "r")
    val f = quartile(Seq(col("frequency").asc, col("o_custkey")), "f")
    val m = quartile(Seq(col("monetary_cents").asc, col("o_custkey")), "m")
    perCust
      .join(r, "o_custkey").join(f, "o_custkey").join(m, "o_custkey")
      .select(col("o_custkey"),
        date_format(col("lo"), "yyyy-MM-dd").as("last_order"),
        col("frequency"), col("monetary_cents"),
        col("r"), col("f"), col("m"))
      .withColumn("segment", col("r") * 100 + col("f") * 10 + col("m"))
  }

  /** RFM segment migration matrix (C163): [[rfmSegments]] fit
    * independently on each half of the order history (split at the
    * date-range midpoint), inner-joined per customer — the CRM
    * transition matrix ("how many champions decayed to at-risk")
    * behind every lifecycle campaign. Counts + matrix share; the
    * matrix frame is segment²-bounded (≤ 64²), the halves reuse the
    * full two-pass NTILE machinery, and the only data-sized work is
    * the two per-customer aggregates. */
  def rfmMigration(orders: DataFrame): DataFrame = {
    val withDay = orders.withColumn("_day",
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
    val bounds = withDay
      .agg(expr("(min(_day) + max(_day)) div 2").as("mid"))
    // ONE orders scan builds both halves' per-customer reductions,
    // keyed by the half flag; each quartile DIMENSION then runs ONE
    // composite-order (_h1, key) global rank covering BOTH halves —
    // within-half rank = global rank − the half's min rank + 1 — so the
    // whole matrix costs 3 two-pass rank fits instead of the 6 (plus a
    // second orders scan) that two independent rfmSegments fits paid.
    val perCustHalf = CacheTracker.cache(
      withDay.crossJoin(broadcast(bounds))
        .groupBy(col("o_custkey"), (col("_day") <= col("mid")).as("_h1"))
        .agg(
          max(col("o_orderdate")).as("lo"),
          count(lit(1)).as("frequency"),
          sum(cents(col("o_totalprice"))).as("monetary_cents")))
    def quartile(ord: Seq[Column], name: String): DataFrame = {
      val ranked = Ranks.withGlobalRowNumber(perCustHalf, "_rnk", "_n",
        col("_h1").desc +: ord)
      val halfSpan = ranked.groupBy("_h1")
        .agg(count(lit(1)).as("_nh"), min(col("_rnk")).as("_start"))
      ranked.join(broadcast(halfSpan), "_h1")
        .select(col("o_custkey"), col("_h1"),
          Ranks.ntileFromRank(col("_rnk") - col("_start") + 1, col("_nh"), 4)
            .cast("long").as(name))
    }
    val r = quartile(Seq(col("lo").asc, col("o_custkey")), "r")
    val f = quartile(Seq(col("frequency").asc, col("o_custkey")), "f")
    val m = quartile(Seq(col("monetary_cents").asc, col("o_custkey")), "m")
    val seg = r.join(f, Seq("o_custkey", "_h1")).join(m, Seq("o_custkey", "_h1"))
      .select(col("o_custkey"), col("_h1"),
        (col("r") * 100 + col("f") * 10 + col("m")).as("segment"))
    // conditional-agg pivot, not a self-join: one pass over seg keeps the
    // 3-rank lineage from executing twice
    val joined = seg.groupBy("o_custkey")
      .agg(max(when(col("_h1"), col("segment"))).as("segment_h1"),
        max(when(!col("_h1"), col("segment"))).as("segment_h2"))
      .filter(col("segment_h1").isNotNull && col("segment_h2").isNotNull)
    val total = joined.agg(count(lit(1)).as("n_total"))
    joined.groupBy("segment_h1", "segment_h2")
      .agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(total))
      .select(col("segment_h1"), col("segment_h2"), col("n_customers"),
        round(col("n_customers").cast("double") / col("n_total"), 6)
          .as("share"))
  }

  /** One-way ANOVA of daily revenue by day-of-week (C164): how much of
    * the day-to-day revenue variance the weekly cycle explains — η² =
    * SSB/SST and the F statistic, the formal complement to
    * [[revenueAcf]]'s lag-7 spike. The moment formulation
    * ([[dispersionIndex]]'s discipline): per-dow exact Σr and Σr²
    * (decimal-widened so cents² can't overflow), SS values composed in
    * doubles but NEVER emitted (at 10¹¹-cent² magnitudes a 6 dp round
    * is below one ulp and engine-dependent) — only the O(1) ratios η²
    * and F round, at 6 dp. One data-sized shuffle total. */
  def seasonalityAnova(events: DataFrame): DataFrame = {
    val days = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .agg(sum(cents(col("value"))).as("r"))
      .withColumn("dow", col("day_idx") % 7)
    val gm = days.groupBy("dow")
      .agg(count(lit(1)).as("n_g"), sum(col("r")).as("sg"),
        // widen BEFORE the product: r*r in LONG overflows first (daily
        // revenue cents² passes Long.MaxValue around sf1) and with ANSI
        // off wraps silently while the oracle's HUGEINT doesn't
        sum(col("r").cast("decimal(38,0)") * col("r")).as("sg2"))
    val tot = gm.agg(count(lit(1)).as("k_dow"), sum(col("n_g")).as("n_days"),
      sum(col("sg")).as("s"), sum(col("sg2")).as("s2"),
      Folds.exactSum(col("sg").cast("double") * col("sg").cast("double")
        / col("n_g")).as("bsum"))
    tot.select(col("n_days"), col("k_dow"),
        (col("s2").cast("double")
          - col("s").cast("double") * col("s").cast("double") / col("n_days"))
          .as("sst"),
        (col("bsum")
          - col("s").cast("double") * col("s").cast("double") / col("n_days"))
          .as("ssb"))
      .select(col("n_days"), col("k_dow"),
        when(col("sst") > 0, round(col("ssb") / col("sst"), 6))
          .otherwise(lit(0.0)).as("eta_sq"),
        when(col("sst") - col("ssb") > 0 && col("n_days") > col("k_dow"),
          round((col("ssb") / (col("k_dow") - 1))
            / ((col("sst") - col("ssb")) / (col("n_days") - col("k_dow"))), 6))
          .otherwise(lit(0.0)).as("f_stat"))
  }

  /** Wide→long UNPIVOT of per-language aggregates (C75): the stack()
    * reshape that feeds metric-per-row sinks (dashboards, timeseries
    * stores) without one query per metric. One shuffle for the
    * aggregate; stack is a narrow constant-fold expansion — Spark's
    * UNPIVOT clause plans to exactly this. Sums stay exact longs and
    * divide once, so the doubles match any engine's. */
  def langUnpivot(docs: DataFrame): DataFrame =
    docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        max(col("n_chars")).as("max_chars"))
      .select(col("lang"),
        expr("stack(3, 'n_docs', CAST(n_docs AS DOUBLE), " +
          "'avg_chars', ROUND(CAST(sum_chars AS DOUBLE) / n_docs, 6), " +
          "'max_chars', CAST(max_chars AS DOUBLE)) AS (metric, value)"))

  /** Acquisition-cohort LTV curves (C97): customers cohorted by their
    * first-order month, then cumulative exact-cent revenue per cohort
    * age — the lifetime-value table behind every retention/payback
    * analysis. `ltv_cents_per_cust` divides the exact cumulative long
    * by the FULL cohort size (not just the age's active customers), so
    * curves are comparable across cohorts.
    *
    * Scale posture: one shuffle to find each customer's cohort, one
    * (cohort, age) partial agg, and the cumulative window runs per
    * cohort over AGES — calendar-bounded, never data-sized; cohort
    * sizes broadcast back. */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_custkey"),
      expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val cohort = o.groupBy("o_custkey").agg(min(col("m")).as("cohort_m"))
    val sizes = cohort.groupBy("cohort_m").agg(count(lit(1)).as("cohort_size"))
    val rev = o.join(cohort, "o_custkey")
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).cast("long").as("age"))
      .agg(count_distinct(col("o_custkey")).as("n_active"),
        sum(col("cents")).as("age_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort_m").orderBy("age")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    rev.join(broadcast(sizes), "cohort_m")
      .select(col("cohort_m").cast("long").as("cohort_m"), col("age"),
        col("cohort_size"), col("n_active"),
        sum(col("age_cents")).over(w).as("cum_cents"))
      .withColumn("ltv_cents_per_cust",
        round(col("cum_cents").cast("double") / col("cohort_size"), 6))
  }

  /** Hourly gap fill + forward fill per user (C96): densify each user's
    * event timeline to every hour between their first and last activity,
    * then LOCF-fill the running hourly spend — the timeseries-densify
    * shape every activity warehouse needs before charting or windowed
    * feature extraction (a missing hour must read as an explicit zero /
    * carried value, not an absent row).
    *
    * Scale posture: the grid explosion is bounded by users × their own
    * hour span (observation-window-bounded, not corpus-bounded), the
    * fill window is partitioned per user, and everything upstream is one
    * (user, hour) partial agg. Exact long cents end to end. */
  def eventsGapFill(events: DataFrame): DataFrame = {
    // floor-consistent hour bucketing ((x − pmod(x,d)) div d): agrees
    // with DuckDB's `//` for pre-epoch timestamps too, where Spark's
    // truncating div would round toward zero instead of down
    val hourly = events.select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) div 3600000000")
          .as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("user_id", "h")
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("hour_cents"))
    val grid = hourly.groupBy("user_id")
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("h")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(last(col("hour_cents"), ignoreNulls = true).over(w), lit(0L))
          .as("cents_filled"),
        col("hour_cents").isNull.cast("long").as("is_gap"))
  }

  /** Market-basket association pairs (C95): parts bought together in the
    * same order, with exact co-occurrence counts and the standard
    * association metrics — confidence(a→b) = n_ab/n_a and
    * lift = n_ab·N/(n_a·n_b), each a single rounded division of exact
    * longs (bit-stable on any engine). minPairCount prunes the
    * long-tail singleton pairs before any metric math.
    *
    * Scale posture: the per-order self-join explodes to C(items,2)
    * pairs per order — bounded by basket size (a handful in TPC-H-like
    * data), NOT by the corpus, so the pair stream is ~items²/2 per
    * order times #orders and shuffles once on the pair key. The part
    * marginals broadcast back; N is a one-row broadcast frame. */
  def basketPairs(lineitem: DataFrame, minPairCount: Long = 3): DataFrame = {
    val items = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    val partN = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
    val nOrders = items.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val pairs = items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("part_b")), "l_orderkey")
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pairs
      .join(partN.select(col("l_partkey").as("part_a"), col("n_part").as("n_a")), "part_a")
      .join(partN.select(col("l_partkey").as("part_b"), col("n_part").as("n_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_a"), 6).as("conf_a_b"),
        round(col("n_ab").cast("double") * col("n_orders") /
          (col("n_a") * col("n_b")), 6).as("lift"))
  }

  /** DAU/MAU stickiness (C108): per active day, the distinct daily
    * actives over the distinct trailing-`windowDays` actives — the
    * product-engagement ratio every event warehouse reports. Exact
    * rolling COUNT DISTINCT without a rolling-window scan: each
    * (day, user) activity row registers in the `windowDays` future days
    * it keeps the user "monthly active" for (a BOUNDED ×30 explode),
    * dedups per (user, target day), and counts — cost tracks activity
    * × window, never users². Days with zero events are not emitted
    * (both engines identically). Integer epoch-day indices avoid
    * calendar arithmetic drift. */
  def dauMau(events: DataFrame, windowDays: Int = 30): DataFrame = {
    val du = events
      .select(expr("unix_micros(ts) div 86400000000").as("day_idx"),
        col("user_id"))
      .distinct()
    val dau = du.groupBy("day_idx").agg(count(lit(1)).as("dau"))
    val contrib = du
      .select(col("user_id"),
        explode(sequence(col("day_idx"),
          col("day_idx") + (windowDays - 1))).as("day_idx"))
      .distinct()
    val mau = contrib.join(dau.select("day_idx"), Seq("day_idx"))
      .groupBy("day_idx").agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("day_idx"))
      .select(col("day_idx"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
  }

  /** Deterministic A/B Welch's t-test (C105): split users by the parity
    * of user_id (the hash-assignment stand-in), compare per-user total
    * purchase cents between arms with the unequal-variance t statistic
    * and Welch–Satterthwaite degrees of freedom — the experimentation
    * readout every event warehouse serves.
    *
    * Exactness: per-user totals and the group moment sums stay in
    * BIGINT (cents² sums fit 63 bits at any plausible per-user spend);
    * mean/variance round at 9 dp and the t/df chain is computed from
    * those rounded inputs with one fixed association, so both engines
    * walk identical doubles. Two partial-agg shuffles, then a 2-row
    * frame; output is a single row. */
  def abTtest(events: DataFrame): DataFrame = {
    val spend = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("user_id").agg(sum(col("cents")).as("cents"))
      .withColumn("grp", pmod(col("user_id"), lit(2)).cast("long"))
    val m = spend.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        // widened BEFORE the product (round-13 decimal discipline)
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("ss"))
      .select(col("grp"), col("n"),
        round(col("s").cast("double") / col("n"), 9).as("mean"),
        round((col("ss").cast("double") -
          col("s").cast("double") * col("s") / col("n"))
          / (col("n") - 1), 9).as("variance"))
    val a = m.filter(col("grp") === 0).select(col("n").as("n_a"),
      col("mean").as("mean_a"), col("variance").as("var_a"))
    val b = m.filter(col("grp") === 1).select(col("n").as("n_b"),
      col("mean").as("mean_b"), col("variance").as("var_b"))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        col("var_a"), col("var_b"),
        round((col("mean_b") - col("mean_a")) /
          sqrt(col("var_b") / col("n_b") + col("var_a") / col("n_a")), 6)
          .as("t_stat"),
        // explicit x*x (not pow) so both engines do one IEEE multiply
        round((col("var_b") / col("n_b") + col("var_a") / col("n_a")) *
          (col("var_b") / col("n_b") + col("var_a") / col("n_a")) /
          ((col("var_b") / col("n_b")) * (col("var_b") / col("n_b")) / (col("n_b") - 1) +
            (col("var_a") / col("n_a")) * (col("var_a") / col("n_a")) / (col("n_a") - 1)), 6)
          .as("df"))
  }

  /** CUSUM change-point detection (C102): per event type, the day where
    * the cumulative deviation of daily revenue from its overall mean
    * peaks in magnitude — the classic single-change-point estimator
    * (argmax |CUSUM_t|) that flags when a metric's level shifted.
    *
    * Exactness: the running total stays in INTEGER cents (bit-exact
    * under any aggregation order); the only float work is one multiply
    * and subtract per day against the 9 dp mean, so no float cumsum —
    * whose addition order differs between engines — ever happens.
    * Scale: the windowed frame is (event_type × day) — calendar-bounded,
    * not data-sized; the data-sized pass is the one partial-agg shuffle
    * building the daily totals. */
  /** Seasonal-naive forecast baseline (C130): per event type, score the
    * two zero-parameter forecasters every real model must beat — "same
    * as 7 days ago" and "same as yesterday" — by MAE over the daily
    * count series. If mae7 ≪ mae1 the stream has real weekly
    * seasonality; if neither is small the series is hard. All counts and
    * absolute errors are exact BIGINTs; only the two MAE divisions are
    * float (6 dp). Lag windows run per event type over the
    * calendar-bounded daily frame. */
  def seasonalNaiveEval(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .groupBy("event_type", "day_idx").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day_idx")
    val lagged = daily
      .withColumn("lag1_day", lag(col("day_idx"), 1).over(w))
      .withColumn("lag1_cnt", lag(col("cnt"), 1).over(w))
      .withColumn("lag7_day", lag(col("day_idx"), 7).over(w))
      .withColumn("lag7_cnt", lag(col("cnt"), 7).over(w))
      // the lag is positional; only score when the calendar gap matches
      .withColumn("e1", when(col("lag1_day") === col("day_idx") - 1,
        abs(col("cnt") - col("lag1_cnt"))))
      .withColumn("e7", when(col("lag7_day") === col("day_idx") - 7,
        abs(col("cnt") - col("lag7_cnt"))))
    lagged.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        count(col("e1")).as("n_scored1"),
        sum(col("e1")).as("s1"),
        count(col("e7")).as("n_scored7"),
        sum(col("e7")).as("s7"))
      .select(col("event_type"), col("n_days"),
        col("n_scored1"),
        when(col("n_scored1") > 0,
          round(col("s1").cast("double") / col("n_scored1"), 6))
          .otherwise(lit(0.0)).as("mae1"),
        col("n_scored7"),
        when(col("n_scored7") > 0,
          round(col("s7").cast("double") / col("n_scored7"), 6))
          .otherwise(lit(0.0)).as("mae7"))
  }

  /** Weekly churn/retention (C131): of the users active in week w−1,
    * how many returned in week w — the rolling engagement readout
    * distinct from [[cohortRetention]]'s signup-cohort view. Integer
    * epoch-week indices; one distinct shuffle to (user, week), a
    * self-join on (user, week+1) for retention, week-keyed partial
    * aggs for the marginals. */
  def churnRate(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week_idx"))
      .distinct()
    val weekly = uw.groupBy("week_idx").agg(count(lit(1)).as("n_active"))
    val retained = uw.select(col("user_id"), (col("week_idx") + 1).as("week_idx"))
      .join(uw, Seq("user_id", "week_idx"))
      .groupBy("week_idx").agg(count(lit(1)).as("n_retained"))
    weekly.select(col("week_idx"), col("n_active").as("n_prev_active"))
      .select((col("week_idx") + 1).as("week_idx"), col("n_prev_active"))
      .join(weekly, Seq("week_idx"), "inner")
      .join(retained, Seq("week_idx"), "left")
      .select(col("week_idx"), col("n_prev_active"),
        col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        (col("n_prev_active") - coalesce(col("n_retained"), lit(0L))).as("n_churned"),
        round((col("n_prev_active") - coalesce(col("n_retained"), lit(0L)))
          .cast("double") / col("n_prev_active"), 6).as("churn_rate"))
  }

  /** New-vs-returning daily actives (C128): per active day, how many
    * distinct users appear for the FIRST time vs return — the growth
    * readout every product warehouse serves. First-seen day is one
    * partial-agg min per user; the daily split joins the (user, day)
    * activity frame back on user_id. Integer epoch-day indices. */
  def newVsReturning(events: DataFrame): DataFrame = {
    val du = events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .distinct()
    val firstSeen = du.groupBy("user_id").agg(min(col("day_idx")).as("first_day"))
    du.join(firstSeen, "user_id")
      .groupBy("day_idx")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day_idx") === col("first_day"), 1L).otherwise(0L)).as("n_new"))
      .select(col("day_idx"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        round(col("n_new").cast("double") / col("n_active"), 6).as("new_ratio"))
  }

  /** Semi-structured key profile of the props JSON column (C129): which
    * top-level keys exist, how often, with how many distinct values and
    * what null rate — the schema-drift audit run over an evolving
    * event-properties blob before anyone hard-codes a `props.k` path.
    * Parsed as MAP<STRING,STRING> (schema-free), keys exploded (per-row
    * fanout bounded by the key count), one partial-agg + distinct pass
    * on the key-bounded frame. */
  def jsonKeyProfile(events: DataFrame): DataFrame = {
    val kv = events
      .select(col("event_id"),
        explode(from_json(col("props"), "MAP<STRING, STRING>",
          Map.empty[String, String])).as(Seq("key", "value")))
    val tot = events.agg(count(lit(1)).as("n_events"))
    kv.groupBy("key")
      .agg(count(lit(1)).as("n_present"),
        countDistinct(col("value")).as("n_distinct_values"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_values"))
      .crossJoin(broadcast(tot))
      .select(col("key"), col("n_present"), col("n_distinct_values"),
        col("n_null_values"),
        round(col("n_present").cast("double") / col("n_events"), 6)
          .as("presence_ratio"))
  }

  /** Hourly volume-burst summary per event type (C127): how bursty is
    * each stream against its own hourly baseline — hours observed,
    * mean/σ of the hourly count (population σ from exact integer
    * moments, 9 dp), how many hours exceed mean + 2σ, and the peak
    * z-score. The traffic-anomaly readout next to [[eventsAnomaly]]'s
    * per-user VALUE z-scores; flat streams (σ = 0) report zero bursts
    * rather than dividing by zero.
    *
    * Scale: one partial-agg shuffle to (hour, type), then everything
    * lives on the calendar×type-bounded hourly frame. */
  def burstHours(events: DataFrame): DataFrame = {
    val hourly = events
      .select(expr("unix_micros(ts) div 3600000000").as("hour_idx"),
        col("event_type"))
      .groupBy("event_type", "hour_idx").agg(count(lit(1)).as("cnt"))
    val m = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum(col("cnt")).as("s"),
        sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("ss"), max(col("cnt")).as("max_cnt"))
      .select(col("event_type"), col("n_hours"), col("max_cnt"),
        round(col("s").cast("double") / col("n_hours"), 9).as("mu"),
        // greatest(…, 0): float error can push a zero variance a hair
        // negative, and NaN comparison semantics DIFFER between engines
        round(sqrt(greatest(col("ss").cast("double") / col("n_hours")
          - (col("s").cast("double") / col("n_hours"))
          * (col("s").cast("double") / col("n_hours")), lit(0.0))), 9).as("sigma"))
    hourly.join(broadcast(m), "event_type")
      .groupBy(col("event_type"), col("n_hours"), col("mu"), col("sigma"),
        col("max_cnt"))
      .agg(sum(when(col("cnt") > col("mu") + lit(2.0) * col("sigma"), 1L)
        .otherwise(0L)).as("n_burst_hours"))
      .select(col("event_type"), col("n_hours"),
        round(col("mu"), 6).as("mu"), round(col("sigma"), 6).as("sigma"),
        col("n_burst_hours"),
        when(col("sigma") > 0,
          round((col("max_cnt") - col("mu")) / col("sigma"), 6))
          .otherwise(lit(0.0)).as("max_z"))
  }

  /** Join-key skew profile (C125): the distribution of per-key row
    * counts for a prospective shuffle key — top-1 key share, p50/p99
    * count percentiles and their ratio — the diagnostic read BEFORE
    * reaching for [[Skew.saltedJoin]] or AQE skew hints. One partial-agg
    * shuffle on the key; the percentile/argmax pass runs over the
    * (distinct keys)-sized count frame, never the raw rows; top-1 is a
    * bounded-heap TakeOrdered, not a sort. */
  def keySkewProfile(events: DataFrame, key: String = "user_id"): DataFrame = {
    val counts = CacheTracker.cache(events.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt")))
    val top1 = counts.orderBy(col("cnt").desc, col("k")).limit(1)
      .select(col("k").as("top_key"), col("cnt").as("top_count"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      round(percentile(col("cnt"), lit(0.5)), 4).as("p50_count"),
      round(percentile(col("cnt"), lit(0.99)), 4).as("p99_count"))
    stats.crossJoin(broadcast(top1))
      .select(col("n_keys"), col("n_rows"), col("top_key"), col("top_count"),
        col("p50_count"), col("p99_count"),
        round(col("top_count").cast("double") * col("n_keys") / col("n_rows"), 6)
          .as("top_key_hotness"),
        when(col("p50_count") > 0,
          round(col("p99_count") / col("p50_count"), 6)).otherwise(lit(0.0))
          .as("p99_p50_ratio"))
  }

  /** Shared Benford expected first-digit probabilities, rounded once at
    * 9 dp so the operator and the DuckDB oracle embed the SAME literal
    * constants (no cross-engine log10 drift). */
  val BenfordP: Seq[(Int, Double)] = (1 to 9).map { d =>
    d -> BigDecimal(math.log10(1.0 + 1.0 / d))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Benford first-digit audit of order totals (C123): observed
    * first-digit shares of the cent amounts vs Benford's law, with the
    * χ² statistic — the classic fabricated-data / fraud screen a finance
    * warehouse runs over money columns. All 9 digits always present
    * (grid left-join, zero-filled); χ² contributions round at 9 dp and
    * sum exactly over the 9-row frame. Scale: one partial-agg pass over
    * the fact table; everything after is digit-bounded. */
  def benfordCheck(orders: DataFrame): DataFrame = {
    val expCase = "CASE digit " + BenfordP.map { case (d, p) =>
      s"WHEN $d THEN CAST($p AS DOUBLE)" }.mkString(" ") + " END"
    val digits = orders
      .select(cents(col("o_totalprice")).as("c"))
      .filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
    val obs = digits.groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = digits.agg(count(lit(1)).as("n"))
    val grid = tot.select(explode(sequence(lit(1L), lit(9L))).as("digit"), col("n"))
    val filled = grid.join(obs, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"), col("n"))
      .withColumn("exp_p", expr(expCase))
      .withColumn("chi2_term",
        round((col("n_obs") - col("n") * col("exp_p"))
          * (col("n_obs") - col("n") * col("exp_p"))
          / (col("n") * col("exp_p")), 9))
    val chi2 = filled.agg(round(Folds.exactSum(col("chi2_term")), 6).as("chi2"))
    filled.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n"), 6).as("obs_p"),
        col("exp_p"), col("chi2"))
  }

  /** Pareto concentration of purchase revenue (C124): the smallest
    * number of users covering 50/80/90/95/99% of total purchase cents —
    * the "what fraction of users is 80% of revenue" readout. The global
    * spend order rides [[Ranks.withGlobalRankCumSum]]'s two-pass
    * range-partitioned rank+cumsum (no data-sized single-partition
    * window); threshold selection is an exact integer comparison
    * cum·100 ≥ pct·total and a 5-key partial-agg min. */
  def paretoUsers(events: DataFrame): DataFrame = {
    val spend = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("c"))
      .groupBy("user_id").agg(sum(col("c")).as("cents"))
    val ranked = Ranks.withGlobalRankCumSum(spend, "cents", "rnk",
      "cum_cents", "tot_cents", Seq(col("cents").desc, col("user_id")))
    val nUsers = spend.agg(count(lit(1)).as("n_users"))
    ranked
      .select(col("rnk"), col("cum_cents"), col("tot_cents"),
        explode(array(lit(50L), lit(80L), lit(90L), lit(95L), lit(99L))).as("pct"))
      .filter(col("cum_cents") * 100 >= col("pct") * col("tot_cents"))
      .groupBy("pct")
      .agg(min(col("rnk")).as("n_users_needed"))
      .crossJoin(broadcast(nUsers))
      .select(col("pct"), col("n_users_needed"), col("n_users"),
        round(col("n_users_needed").cast("double") / col("n_users"), 6)
          .as("user_frac"))
  }

  /** Audience-overlap Jaccard matrix (C122): for every pair of event
    * types that share at least one user, the Jaccard similarity of
    * their user sets — the generalized form of the two-audience set ops
    * (C36), computed WITHOUT materializing any set: per-user distinct
    * types explode to ≤ C(types,2) pair rows (type count is bounded, so
    * the explosion is per-user constant), intersections and marginals
    * are partial-agg counts, and |A∪B| = |A|+|B|−|A∩B|.
    *
    * Scale: one distinct shuffle on (user, type), one self-join on
    * user_id with the bounded per-user fanout, one pair-keyed partial
    * agg; the marginal frame is type-bounded and broadcast. */
  def userOverlapJaccard(events: DataFrame): DataFrame = {
    val du = events.select(col("user_id"), col("event_type")).distinct()
    val sizes = du.groupBy("event_type").agg(count(lit(1)).as("n_users"))
    val inter = du.select(col("user_id"), col("event_type").as("type_a"))
      .join(du.select(col("user_id"), col("event_type").as("type_b")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n_users").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n_users").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        round(col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"))
  }

  /** Foreign-key cardinality profile (C119): for each declared
    * relationship, the fanout distribution and referential-integrity
    * counts — orphan children (fk with no parent), childless parents,
    * min/max/avg children per matched parent. The data-quality audit a
    * warehouse runs before trusting a join, and the statistic a
    * cost-based optimizer wants (avg fanout predicts join output size).
    *
    * Scale: one partial-agg shuffle on the fk per relationship, then a
    * key-aligned full-outer join against the distinct parent keys;
    * everything after is a single-row fold. No broadcast assumption —
    * both sides may be data-sized. */
  def joinCardinalityProfile(orders: DataFrame, customer: DataFrame,
      lineitem: DataFrame): DataFrame = {
    def profile(child: DataFrame, fk: String, parent: DataFrame, pk: String,
        name: String): DataFrame = {
      val fan = child.select(col(fk).as("k"))
        .groupBy("k").agg(count(lit(1)).as("fan"))
      val pm = parent.select(col(pk).as("k")).distinct()
        .withColumn("is_p", lit(1L))
      fan.join(pm, Seq("k"), "full_outer")
        .agg(
          sum(coalesce(col("fan"), lit(0L))).as("n_children"),
          sum(coalesce(col("is_p"), lit(0L))).as("n_parents"),
          sum(when(col("is_p").isNull, col("fan")).otherwise(0L)).as("n_orphan_children"),
          sum(when(col("is_p").isNotNull && col("fan").isNull, 1L).otherwise(0L))
            .as("n_childless_parents"),
          sum(when(col("is_p").isNotNull && col("fan").isNotNull, 1L).otherwise(0L))
            .as("n_matched_parents"),
          min(when(col("is_p").isNotNull, col("fan"))).as("min_fanout"),
          max(when(col("is_p").isNotNull, col("fan"))).as("max_fanout"),
          sum(when(col("is_p").isNotNull, col("fan")).otherwise(0L)).as("matched_children"))
        .select(lit(name).as("relationship"), col("n_children"), col("n_parents"),
          col("n_orphan_children"), col("n_childless_parents"),
          coalesce(col("min_fanout"), lit(0L)).as("min_fanout"),
          coalesce(col("max_fanout"), lit(0L)).as("max_fanout"),
          when(col("n_matched_parents") > 0,
            round(col("matched_children").cast("double") / col("n_matched_parents"), 6))
            .otherwise(lit(0.0)).as("avg_fanout"))
    }
    profile(orders, "o_custkey", customer, "c_custkey", "orders->customer")
      .union(profile(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem->orders"))
  }

  /** Out-of-orderness (watermark lateness) profile (C120): within each
    * user's ARRIVAL order (event_id — ids are assigned in ingest order),
    * an event is late when an already-arrived event of the same user
    * carries a newer event time; lateness = running-max(us) − us. The
    * profile per event type — late fraction, max and p99 lateness — is
    * exactly what you read before choosing a Structured Streaming
    * watermark delay (too small drops these events; too large bloats
    * state).
    *
    * Scale: per-user running-max window (the standard one-shuffle
    * session key — lateness vs per-key state is also the semantics
    * stateful operators care about), then a partial-agg fold on the
    * 5-value event-type key. Integer-second lateness; percentiles 4 dp. */
  def latenessProfile(events: DataFrame): DataFrame = {
    val arrival = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    val prevMax = arrival.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_max_us", max(col("us")).over(prevMax))
      .withColumn("late_s",
        when(col("prev_max_us") > col("us"),
          expr("(prev_max_us - us) div 1000000")).otherwise(0L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_s") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_s")).as("max_late_s"),
        round(percentile(col("late_s"), lit(0.99)), 4).as("p99_late_s"))
      .select(col("event_type"), col("n_events"), col("n_late"),
        round(col("n_late").cast("double") / col("n_events"), 6).as("late_ratio"),
        col("max_late_s"), col("p99_late_s"))
  }

  /** Order→ship SLA latency percentiles per priority class (C118): join
    * line items to their orders, measure whole-day ship latency, and
    * report exact interpolated p50/p90/p99 with min/max/count — the
    * fulfillment-SLA readout every commerce warehouse serves.
    *
    * Scale: one co-partitioned shuffle join on the order key (both sides
    * data-sized, neither broadcastable — the right plan), then a
    * partial-agg groupBy on the 5-value priority key; day arithmetic is
    * exact BIGINT, only the final percentiles are float (4 dp, same
    * interpolation as DuckDB quantile_cont). */
  def shipLatency(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // parquet may carry TIMESTAMP_NTZ (driver-generation drift, same as
    // events.ts): cast to session-TZ timestamp (UTC) before unix_micros
    val l = lineitem.select(col("l_orderkey"),
      expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("ship_day"))
    val o = orders.select(col("o_orderkey"), col("o_orderpriority"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("order_day"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(col("o_orderpriority"),
        (col("ship_day") - col("order_day")).as("lat_days"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        min(col("lat_days")).as("min_days"),
        max(col("lat_days")).as("max_days"),
        round(percentile(col("lat_days"), lit(0.5)), 4).as("p50_days"),
        round(percentile(col("lat_days"), lit(0.9)), 4).as("p90_days"),
        round(percentile(col("lat_days"), lit(0.99)), 4).as("p99_days"))
  }

  /** Incremental aggregate view maintenance (C116): a standing per-
    * (user, day) aggregate table absorbs a delta batch by MERGING PARTIAL
    * STATES — counts and cent-sums add, first/last timestamps min/max —
    * instead of rescanning history; the merged view is definitionally
    * equal to the full recompute (the oracle IS the recompute, so the
    * hash-exact check proves the merge algebra). The split mirrors
    * dedup_incremental: event_id % 10 >= 8 is today's batch.
    *
    * This is the warehouse pattern behind every streaming materialized
    * view: at 100 TB the standing table is the only big input and it is
    * already aggregated (users × days, far smaller than events); the
    * delta pass touches only new data. Two partial-agg shuffles + one
    * key-aligned merge shuffle, all on (user_id, day_idx). */
  def ivmAgg(events: DataFrame): DataFrame = {
    def state(df: DataFrame): DataFrame = df
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_idx"),
        unix_micros(col("ts")).as("us"),
        cents(col("value")).as("vc"))
      .groupBy("user_id", "day_idx")
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_cents"),
        min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val standing = state(events.filter(col("event_id") % 10 < 8))
    val delta = state(events.filter(col("event_id") % 10 >= 8))
    standing.union(delta)
      .groupBy("user_id", "day_idx")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("first_us")).as("first_us"),
        max(col("last_us")).as("last_us"))
  }

  /** Hourly OHLC bars per event type (C113): open/high/low/close of the
    * event `value` inside each hour bucket, plus volume — the bar-builder
    * shape every metrics/market warehouse materializes from a tick
    * stream.
    *
    * Open/close are picked by `min`/`max` over a (us, event_id, cents)
    * struct — lexicographic struct comparison with the unique
    * (us, event_id) prefix makes the pick deterministic AND keeps the
    * whole operator a partial-aggregable `groupBy` (map-side combine,
    * one shuffle on the calendar-bounded (hour, type) key) instead of a
    * per-bucket row_number window that would sort every hot hour's
    * events. Values ride as integer cents; no float order dependence. */
  def eventsOhlc(events: DataFrame): DataFrame = {
    val e = events.select(
      expr("unix_micros(ts) div 3600000000").as("hour_idx"),
      col("event_type"), col("event_id"),
      unix_micros(col("ts")).as("us"),
      cents(col("value")).as("vc"))
    e.groupBy("hour_idx", "event_type")
      .agg(
        min(struct(col("us"), col("event_id"), col("vc"))).as("o"),
        max(struct(col("us"), col("event_id"), col("vc"))).as("c"),
        max(col("vc")).as("high_cents"),
        min(col("vc")).as("low_cents"),
        sum(col("vc")).as("volume_cents"),
        count(lit(1)).as("n_events"))
      .select(col("hour_idx"), col("event_type"),
        col("o").getField("vc").as("open_cents"),
        col("high_cents"), col("low_cents"),
        col("c").getField("vc").as("close_cents"),
        col("volume_cents"), col("n_events"))
  }

  /** Per-user time-weighted average value (C114): each event's value is
    * held until the user's next event; TWAP = Σ(cents·gap_s) / Σ(gap_s)
    * over the user's observed span — the time-weighted mean that a plain
    * AVG (which weights a 1-second spike equally with a week-long
    * plateau) misrepresents. Users with a single event (no gap) drop.
    *
    * Exactness: gaps truncate to whole seconds and values to cents, so
    * both sums are exact BIGINTs (cents ≤ ~3·10⁴ × gap_s ≤ span keeps
    * the product far inside 63 bits); the single division rounds at
    * 6 dp. One per-user lead window (the same shuffle key every session
    * op here uses), then a partial-agg groupBy on user_id. */
  def twap(events: DataFrame): DataFrame = {
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), cents(col("value")).as("vc"))
      .withColumn("next_us", lead(col("us"), 1).over(order))
      .filter(col("next_us").isNotNull)
      .withColumn("gap_s", expr("(next_us - us) div 1000000"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("span_s"),
        sum(col("vc").cast("decimal(38,0)") * col("gap_s")).as("weighted_cents"))
      .filter(col("span_s") > 0L)
      .select(col("user_id"), col("n_gaps"), col("span_s"),
        round(col("weighted_cents").cast("double") / col("span_s"), 6)
          .as("twap_cents"))
  }

  def cusumChangepoint(events: DataFrame): DataFrame = {
    val daily = events.select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("cents"))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("tot"))
      .select(col("event_type"), col("n_days"),
        round(col("tot").cast("double") / col("n_days"), 9).as("mean_cents"))
    val wo = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    val cum = daily.join(broadcast(stats), "event_type")
      .withColumn("t", row_number().over(wo).cast("long"))
      .withColumn("cum_cents",
        sum(col("cents")).over(wo.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("cusum",
        round(col("cum_cents") - col("t") * col("mean_cents"), 6))
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(abs(col("cusum")).desc, col("day"))
    cum.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("cp_day"), col("cusum"),
        col("n_days"))
  }

  /** CUPED variance-reduced A/B readout (C135): users split by
    * user_id % 2, the event-time range split at its midpoint day into
    * pre/post periods, and each variant's post-period spend adjusted by
    * the pooled pre-period covariate — Y' = Y − θ(X − mean X), with
    * θ = cov(X,Y)/var(X) (Deng et al. 2013). Every moment (Σx, Σy,
    * Σxy, Σx²) is an exact per-user cents sum (products in
    * DECIMAL(38,0)); θ is computed from those exact sums in one fixed
    * double-expression order, rounded ONCE to 6 dp, and the ROUNDED θ
    * feeds the adjustment, so both engines adjust with bit-identical
    * coefficients. One shuffle (user aggregate) + one broadcast of the
    * pooled one-row stats. */
  def cupedAdjust(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day_idx"),
      cents(col("value")).as("c"))
    val bounds = e.agg(min(col("day_idx")).as("min_day"),
      max(col("day_idx")).as("max_day"))
    val per = e.crossJoin(broadcast(bounds))
      .withColumn("mid", expr("(min_day + max_day + 1) div 2"))
      .select(col("user_id"),
        when(col("day_idx") < col("mid"), col("c")).otherwise(0L).as("xc"),
        when(col("day_idx") >= col("mid"), col("c")).otherwise(0L).as("yc"))
      .groupBy("user_id")
      .agg(sum(col("xc")).as("x"), sum(col("yc")).as("y"))
      .withColumn("variant", (col("user_id") % 2).cast("long"))
    val pooled = per.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      // widened BEFORE multiplying — x·y in LONG overflows first at scale
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
    val meanX = col("sx").cast("double") / col("n")
    val covXY = col("sxy").cast("double") / col("n") -
      meanX * (col("sy").cast("double") / col("n"))
    val varX = col("sxx").cast("double") / col("n") - meanX * meanX
    val withTheta = pooled.select(col("n"), col("sx"),
      when(varX > 0, round(covXY / varX, 6)).otherwise(lit(0.0)).as("theta"))
    val byVariant = per.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sxv"), sum(col("y")).as("syv"))
    byVariant.crossJoin(broadcast(withTheta))
      .select(col("variant"), col("n_users"),
        round(col("sxv").cast("double") / col("n_users"), 6).as("mean_x_cents"),
        round(col("syv").cast("double") / col("n_users"), 6).as("mean_y_cents"),
        col("theta"),
        round(col("syv").cast("double") / col("n_users") -
          col("theta") * (col("sxv").cast("double") / col("n_users") -
            col("sx").cast("double") / col("n")), 6).as("mean_y_adj_cents"))
  }

  /** Equi-depth (quantile) histogram of order totals (C136): `k`
    * near-equal-count buckets over (cents, orderkey) total order, each
    * reporting its row count, bounds, and exact-cents sum/mean — the
    * histogram an optimizer's statistics collector keeps. The global
    * rank rides [[Ranks.withGlobalRowNumber]]'s two-pass machinery and
    * [[Ranks.ntileFromRank]] reproduces SQL NTILE semantics exactly, so
    * the oracle is a plain window ntile. */
  def equiDepthHistogram(orders: DataFrame, k: Int = 10): DataFrame = {
    val c = orders.select(col("o_orderkey"),
      cents(col("o_totalprice")).as("c"))
    Ranks.withGlobalRowNumber(c, "_rnk", "_n",
        Seq(col("c"), col("o_orderkey")))
      .withColumn("bucket", Ranks.ntileFromRank(col("_rnk"), col("_n"), k).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min(col("c")).as("min_cents"), max(col("c")).as("max_cents"),
        sum(col("c")).as("sum_cents"))
      .withColumn("avg_cents",
        round(col("sum_cents").cast("double") / col("n_orders"), 6))
  }

  /** Lorenz-curve points of customer spend concentration (C151): the
    * full decile curve behind [[spendGini]]'s single number — per
    * ascending-spend decile, the cumulative population and spend shares
    * whose gap IS the inequality (and whose top-decile row answers "how
    * much of revenue rides on our whales"). NTILE-exact deciles from the
    * two-pass global rank; the 10-row decile frame's cumulative window
    * is constant-bounded. All shares exact-integer ratios rounded once. */
  def spendLorenz(orders: DataFrame): DataFrame = {
    val perCust = orders.groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("spend_cents"))
    val ranked = Ranks.withGlobalRowNumber(perCust, "_rnk", "_n",
      Seq(col("spend_cents"), col("o_custkey")))
    val byDecile = ranked
      .withColumn("decile", Ranks.ntileFromRank(col("_rnk"), col("_n"), 10).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("spend_cents")).as("cents"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byDecile
      .withColumn("cum_customers", sum(col("n_customers")).over(w))
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .withColumn("total_customers", sum(col("n_customers")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("total_cents", sum(col("cents")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("decile"), col("n_customers"), col("cents"),
        round(col("cum_customers").cast("double") / col("total_customers"), 6)
          .as("cum_pop_share"),
        round(col("cum_cents").cast("double") / col("total_cents"), 6)
          .as("cum_spend_share"))
  }

  /** Catalog coverage / dead-stock audit (C152): per part type, how
    * much of the catalog has EVER sold — the assortment-health readout
    * (a type with low coverage is shelf space the demand never touches,
    * and in recsys terms the item cold-start population). One distinct
    * over sold keys + one left-semi-derived flag join + one aggregate. */
  def catalogCoverage(part: DataFrame, lineitem: DataFrame): DataFrame = {
    val sold = lineitem.select(col("l_partkey")).distinct()
    part
      .join(sold.withColumn("_sold", lit(1L)),
        part("p_partkey") === sold("l_partkey"), "left")
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_parts"),
        sum(coalesce(col("_sold"), lit(0L))).as("n_sold"))
      .select(col("p_type"), col("n_parts"), col("n_sold"),
        round(col("n_sold").cast("double") / col("n_parts"), 6).as("coverage"))
  }

  /** Snapshot reconciliation diff (C149): classify every key across two
    * table versions as added / removed / changed / unchanged, with
    * per-column change counts — the data-reconciliation primitive behind
    * CDC validation and migration sign-off. The two "versions" are
    * deterministic slices of orders (v1 drops orderkey % 7 = 0, v2 drops
    * % 5 = 0 and doubles the price of % 3 = 0) so the oracle can rebuild
    * them; the MACHINERY — one full outer join on the key, row-state
    * classification, fixed-arity per-state aggregate (at 100 TB a diff
    * must publish counts, not the changed rows) — is the real operator. */
  def snapshotDiff(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderkey"),
      cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"))
    val v1 = base.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("price_cents").as("p1"),
        col("o_orderstatus").as("s1"))
    val v2 = base.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("price_cents") * 2)
          .otherwise(col("price_cents")).as("p2"),
        col("o_orderstatus").as("s2"))
    v1.join(v2, Seq("o_orderkey"), "full_outer")
      .select(
        when(col("p1").isNull, "added")
          .when(col("p2").isNull, "removed")
          .when(col("p1") =!= col("p2") || col("s1") =!= col("s2"), "changed")
          .otherwise("unchanged").as("status"),
        (col("p1").isNotNull && col("p2").isNotNull &&
          col("p1") =!= col("p2")).cast("long").as("price_diff"),
        (col("s1").isNotNull && col("s2").isNotNull &&
          col("s1") =!= col("s2")).cast("long").as("status_diff"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("price_diff")).as("n_price_changed"),
        sum(col("status_diff")).as("n_status_changed"))
  }

  /** Mann-Whitney rank-sum test between A/B variants on per-user spend
    * (C147): the nonparametric complement of `ab_ttest` for skewed
    * metrics. U is computed tie-exactly from per-distinct-value variant
    * counts — U_A = Σ_v a_v·(cumB_<v + b_v/2), the roc_auc machinery
    * with variants as classes — kept doubled (×2) so it stays an exact
    * integer through the one [[Ranks.withGlobalCumSum]] pass; the
    * normal approximation z = (U − mn/2)/√(mn(m+n+1)/12) (no tie
    * correction in the variance — documented) divides once at the end. */
  def mannwhitneyU(events: DataFrame): DataFrame = {
    val spend = events
      .select(col("user_id"), cents(col("value")).as("c"))
      .groupBy("user_id").agg(sum(col("c")).as("spend"))
      .select(col("spend"), (col("user_id") % 2 === 0).cast("long").as("is_a"))
    val byV = spend.groupBy("spend")
      .agg(sum(col("is_a")).as("n_a"),
        (count(lit(1)) - sum(col("is_a"))).as("n_b"))
    val swept = Ranks.withGlobalCumSum(byV, "n_b", "cum_b", "total_b",
      Seq(col("spend")))
    swept
      .select(col("n_a"), col("total_b"),
        (col("n_a").cast("decimal(38,0)")
          * (lit(2L) * (col("cum_b") - col("n_b")) + col("n_b"))).as("u2"))
      .agg(sum(col("n_a")).as("m"), max(col("total_b")).as("n"),
        sum(col("u2")).as("u2"))
      .select(col("m").as("n_a"), col("n").as("n_b"),
        round(col("u2").cast("double") / 2.0, 6).as("u_stat"),
        round((col("u2").cast("double") / 2.0 -
          col("m").cast("double") * col("n") / 2.0) /
          sqrt(col("m").cast("double") * col("n") * (col("m") + col("n") + 1) / 12.0),
          6).as("z"))
      .withColumn("significant", abs(col("z")) > 1.959964)
  }

  /** Poisson GLM of daily event counts on a time trend (C259): the
    * log-linear rate model log λ_t = b₀ + b₁·t fit by 4 unrolled
    * NEWTON-RAPHSON steps — the COUNT-model sibling of platt_scaling's
    * logistic calibrator (same distributed-second-order-optimizer
    * discipline: per-step sufficient statistics as exact sums of 9 dp
    * terms over the calendar-bounded day frame, closed-form 2×2 solve,
    * parameters re-rounded 9 dp per step so both engines walk the
    * identical trajectory). exp(b₁) is the daily growth multiplier —
    * the statistically right trend readout for COUNTS, where the OLS
    * line under [[durbinWatson]] assumes Gaussian errors counts don't
    * have. Day index is rebased to min-day so exp stays in range. */
  def poissonTrend(events: DataFrame, iters: Int = 4): DataFrame = {
    val daily0 = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("y"))
    val minD = daily0.agg(min(col("d")).as("d0"))
    val daily = CacheTracker.cache(
      daily0.crossJoin(broadcast(minD))
        .select((col("d") - col("d0")).as("t"), col("y")))
    val init = daily.agg(count(lit(1)).as("n_days"),
        sum(col("y")).as("sy"))
      .select(col("n_days"),
        round(log(col("sy").cast("double") / col("n_days")), 9).as("b0"),
        lit(0.0).as("b1"))
    var params = init.transform(CacheTracker.pin)
    for (_ <- 1 to iters) {
      val lam = exp(col("b0") + col("b1") * col("t"))
      val terms = daily.crossJoin(broadcast(params))
        .select(col("n_days"), col("b0"), col("b1"),
          round(col("y") - lam, 9).as("r"),
          round(col("t") * (col("y") - lam), 9).as("tr"),
          round(lam, 9).as("l"),
          round(col("t") * lam, 9).as("tl"),
          round(col("t") * col("t") * lam, 9).as("ttl"))
      val sums = terms.groupBy("n_days", "b0", "b1")
        .agg(Folds.exactSum(col("r")).as("g0"),
          Folds.exactSum(col("tr")).as("g1"),
          Folds.exactSum(col("l")).as("h00"),
          Folds.exactSum(col("tl")).as("h01"),
          Folds.exactSum(col("ttl")).as("h11"))
      // singular Hessian on a zero-variance day axis (single-day
      // stream): NULL params, never an ANSI divide-by-zero throw
      val det = col("h00") * col("h11") - col("h01") * col("h01")
      params = sums.select(col("n_days"),
        round(when(det =!= 0.0,
          col("b0") + (col("h11") * col("g0") - col("h01") * col("g1")) / det), 9)
          .as("b0"),
        round(when(det =!= 0.0,
          col("b1") + (col("h00") * col("g1") - col("h01") * col("g0")) / det), 9)
          .as("b1"))
        .transform(CacheTracker.pin)
    }
    params.select(col("n_days"), col("b0"), col("b1"),
      round(exp(col("b1")), 6).as("daily_growth"))
  }

  /** Huber robust regression of daily revenue on a time trend (C260):
    * 3 unrolled IRLS steps with Huber weights w = min(1, k·s/|e|),
    * k = 1.345 and s RE-ESTIMATED each step as 1.4826 × the lower
    * median of the current |residuals| (rank-based — no interpolation,
    * so both engines pick the identical observed value; re-estimating
    * per step is what lets the fit escape a spike-contaminated initial
    * OLS, where a frozen scale would keep the spike's weight too
    * high) — the middle ground between [[durbinWatson]]'s
    * outlier-hostage OLS line and theil_sen's median slope: 95%
    * Gaussian efficiency AND bounded outlier influence, the trend a
    * revenue series with promo spikes actually wants. Initial fit from
    * exact DECIMAL(38,0) moments. Each step solves in days since the
    * first day (x'), not in raw day_idx: the raw 2×2 normal equations
    * at day_idx ≈ 2·10⁴ cancel away ~7 of the 16 digits, so an ulp in
    * any weighted sum moved the slope's 6th decimal. Weighted sums are
    * exact sums of 9 dp terms over the calendar-bounded day frame (its
    * windows are config-sized); the slope, then the intercept at x' = 0,
    * then the intercept at day 0 re-round at 6 dp per step. */
  def huberTrend(events: DataFrame, iters: Int = 3): DataFrame = {
    val daily = CacheTracker.cache(events
      .select(expr("unix_micros(ts) div 86400000000").as("day_idx"),
        cents(col("value")).as("c"))
      .groupBy("day_idx").agg(sum(col("c")).as("cents")))
    val m = daily.agg(count(lit(1)).as("n"), min(col("day_idx")).as("x0"),
      sum(col("day_idx")).as("sx"), sum(col("cents")).as("sy"),
      sum(col("day_idx").cast("decimal(38,0)") * col("cents")).as("sxy"),
      sum(col("day_idx").cast("decimal(38,0)") * col("day_idx")).as("sxx"))
    val denom0 = (col("n").cast("decimal(38,0)") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    // NULL fit on a zero-variance day axis (single-day stream) — the
    // ANSI divide-by-zero guard; NULLs then flow through every IRLS
    // step's null-short-circuiting arithmetic
    val ols = m.select(col("n"), col("x0"),
      round(when(denom0 =!= 0.0,
        (col("n").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).cast("double") / denom0), 9)
        .as("b1"), col("sx"), col("sy"))
      .select(col("n"), col("x0"), col("b1"),
        round(col("sy").cast("double") / col("n")
          - col("b1") * (col("sx").cast("double") / col("n")), 9).as("b0"))
    // params and scale are ONE-ROW frames: localCheckpoint each step so
    // every broadcast build executes a shallow plan (daily + pinned
    // params), not the whole k-step prefix — the bradley_terry lineage
    // discipline; this query read 101 scheduler jobs for 3 IRLS steps
    // on a calendar-bounded frame before the pins (r17).
    var params = ols.select(col("n"), col("x0"), col("b0"), col("b1"))
      .transform(CacheTracker.pin)
    var lastScale: DataFrame = null
    for (_ <- 1 to iters) {
      val e = round(col("cents").cast("double") - col("b0")
        - col("b1") * col("day_idx"), 6)
      val resid = daily.crossJoin(broadcast(params))
        .select(col("n"), col("x0"), (col("day_idx") - col("x0")).as("x"), col("day_idx"),
          col("cents"), abs(e).as("ae"))
      // rank-based lower median of |e|: the ⌈n/2⌉-th smallest — an
      // observed value, immune to interpolation-convention drift
      val wMed = org.apache.spark.sql.expressions.Window
        .orderBy(col("ae"), col("day_idx"))
      val scale = resid
        .withColumn("rn", row_number().over(wMed))
        .filter(col("rn") === ceil(col("n") / 2.0).cast("long"))
        .select(round(col("ae") * 1.4826, 9).as("s"))
        .transform(CacheTracker.pin)
      lastScale = scale
      val w = round(when(col("ae") <= lit(1.345) * col("s"), lit(1.0))
        .otherwise(lit(1.345) * col("s") / col("ae")), 9)
      val terms = resid.crossJoin(broadcast(scale))
        .select(col("n"), col("x0"), col("s"),
          w.as("w"),
          round(w * col("x"), 9).as("wx"),
          round(w * col("x") * col("x"), 9).as("wxx"),
          round(w * col("cents"), 9).as("wy"),
          round(w * col("x") * col("cents"), 9).as("wxy"))
      val sums = terms.groupBy("n", "x0", "s")
        .agg(Folds.exactSum(col("w")).as("sw"),
          Folds.exactSum(col("wx")).as("swx"),
          Folds.exactSum(col("wxx")).as("swxx"),
          Folds.exactSum(col("wy")).as("swy"),
          Folds.exactSum(col("wxy")).as("swxy"))
      val det = col("sw") * col("swxx") - col("swx") * col("swx")
      val a0 = round((col("swy") - col("b1") * col("swx")) / col("sw"), 6)
      params = sums
        .select(col("n"), col("x0"), col("sw"), col("swx"), col("swy"),
          round(when(det =!= 0.0,
            (col("sw") * col("swxy") - col("swx") * col("swy")) / det), 6).as("b1"))
        .select(col("n"), col("x0"),
          round(a0 - col("b1") * col("x0"), 6).as("b0"), col("b1"))
        .transform(CacheTracker.pin)
    }
    params.crossJoin(broadcast(lastScale))
      .select(col("n").as("n_days"), round(col("s"), 6).as("robust_scale"),
        col("b0").as("huber_intercept"), col("b1").as("huber_slope"))
  }

  /** Odds ratio with Woolf CI for the parity conversion table (C262):
    * OR = (a·d)/(b·c) over the same 2×2 (variant × converted) table
    * powerAnalysis sizes — the effect measure a case-control reading
    * wants where ab_ttest gives a difference: ln OR ± 1.96·√(Σ1/nᵢⱼ)
    * exponentiates to the CI, and "CI excludes 1" is the significance
    * read. Cell counts exact longs; the cross products go through
    * DECIMAL(38,0) (a·d at 10⁹ users would overflow a long); NULL OR
    * on any empty cell (the Haldane +0.5 correction is a CHOICE, not a
    * default — left to the caller, documented). */
  def oddsRatio(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"))
      .select((col("user_id") % 2 === 0).as("is_a"), col("x"))
    val m = perUser.agg(
      sum(when(col("is_a"), col("x")).otherwise(0L)).as("a"),
      sum(when(col("is_a"), lit(1L) - col("x")).otherwise(0L)).as("b"),
      sum(when(!col("is_a"), col("x")).otherwise(0L)).as("c"),
      sum(when(!col("is_a"), lit(1L) - col("x")).otherwise(0L)).as("d"))
    val orr = (col("a").cast("decimal(38,0)") * col("d")).cast("double") /
      (col("b").cast("decimal(38,0)") * col("c")).cast("double")
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
      + lit(1.0) / col("c") + lit(1.0) / col("d"))
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    m.select(col("a").as("n_conv_a"), col("b").as("n_noconv_a"),
      col("c").as("n_conv_b"), col("d").as("n_noconv_b"),
      round(when(ok, orr), 6).as("odds_ratio"),
      round(when(ok, exp(log(orr) - lit(1.959964) * se)), 6).as("ci_lo"),
      round(when(ok, exp(log(orr) + lit(1.959964) * se)), 6).as("ci_hi"))
  }

  /** Cliff's delta between the A/B variants on per-user spend (C255):
    * the nonparametric EFFECT SIZE [[mannwhitneyU]]'s z lacks — z says
    * "detectable", delta = P(a > b) − P(a < b) says "how big", stays in
    * [−1, 1], and is what a skewed-metric experiment report quotes next
    * to the U test. Identity delta = 2U/(mn) − 1 with the tie-exact
    * doubled-U from the same one-cumsum sweep (ties count half), so
    * every quantity before the final division is an exact
    * DECIMAL(38,0); the Romano et al. magnitude bands
    * (0.147/0.33/0.474) ride along as the standard reading. */
  def cliffsDelta(events: DataFrame): DataFrame = {
    val spend = events
      .select(col("user_id"), cents(col("value")).as("c"))
      .groupBy("user_id").agg(sum(col("c")).as("spend"))
      .select(col("spend"), (col("user_id") % 2 === 0).cast("long").as("is_a"))
    val byV = spend.groupBy("spend")
      .agg(sum(col("is_a")).as("n_a"),
        (count(lit(1)) - sum(col("is_a"))).as("n_b"))
    val swept = Ranks.withGlobalCumSum(byV, "n_b", "cum_b", "total_b",
      Seq(col("spend")))
    val agg = swept
      .select(col("n_a"), col("total_b"),
        (col("n_a").cast("decimal(38,0)")
          * (lit(2L) * (col("cum_b") - col("n_b")) + col("n_b"))).as("u2"))
      .agg(sum(col("n_a")).as("m"), max(col("total_b")).as("n"),
        sum(col("u2")).as("u2"))
    val delta = (col("u2") - col("m").cast("decimal(38,0)") * col("n"))
      .cast("double") /
      (col("m").cast("decimal(38,0)") * col("n")).cast("double")
    agg.select(col("m").as("n_a"), col("n").as("n_b"),
        round(delta, 6).as("delta"),
        when(abs(delta) < 0.147, "negligible")
          .when(abs(delta) < 0.33, "small")
          .when(abs(delta) < 0.474, "medium")
          .otherwise("large").as("magnitude"))
  }

  /** Durbin–Watson serial-correlation test on the daily-revenue trend
    * residuals (C256): fit cents ~ day by OLS from exact DECIMAL(38,0)
    * moments (the discountElasticity discipline — slope/intercept are
    * each one rounded division, so both engines score IDENTICAL
    * residuals), then DW = Σ(e_t − e_{t−1})² / Σe_t² over the calendar
    * order — DW ≈ 2 means the trend line left white noise, DW → 0
    * means the "trend" is hiding autocorrelation and every CI computed
    * from these residuals is too narrow (the assumption check behind
    * theil_sen_trend / retention fits). The day frame is
    * calendar-bounded, so its one ordered window and the exact sums of
    * its 6 dp terms are config-sized, not data-sized. */
  def durbinWatson(events: DataFrame): DataFrame = {
    val dailyCents = events
      .select(expr("unix_micros(ts) div 86400000000").as("day_idx"),
        cents(col("value")).as("c"))
      .groupBy("day_idx").agg(sum(col("c")).as("cents"))
    val m = dailyCents.agg(count(lit(1)).as("n"),
      sum(col("day_idx")).as("sx"), sum(col("cents")).as("sy"),
      sum(col("day_idx").cast("decimal(38,0)") * col("cents")).as("sxy"),
      sum(col("day_idx").cast("decimal(38,0)") * col("day_idx")).as("sxx"))
    val denom = (col("n").cast("decimal(38,0)") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    // NULL fit on a single-day stream (zero day variance): the DW
    // statistic is undefined there, never an ANSI divide-by-zero throw
    val fit = m.select(col("n"),
      round(when(denom =!= 0.0,
        (col("n").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).cast("double") / denom), 9)
        .as("slope"),
      col("sx"), col("sy"))
      .select(col("n"), col("slope"),
        round(col("sy").cast("double") / col("n")
          - col("slope") * (col("sx").cast("double") / col("n")), 9)
          .as("intercept"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day_idx"))
    val resid = dailyCents.crossJoin(broadcast(fit))
      .select(col("day_idx"), col("n"), col("slope"), col("intercept"),
        round(col("cents").cast("double") - col("intercept")
          - col("slope") * col("day_idx"), 6).as("e"))
      .withColumn("e_prev", lag(col("e"), 1).over(w))
    resid
      .groupBy("n", "slope", "intercept")
      .agg(Folds.exactSum(round(col("e") * col("e"), 6)).as("e2"),
        Folds.exactSum(when(col("e_prev").isNotNull,
          round((col("e") - col("e_prev")) * (col("e") - col("e_prev")), 6))
          .otherwise(lit(0.0))).as("d2"))
      .select(col("n").as("n_days"), col("slope"), col("intercept"),
        // a perfect fit (Σe² = 0) leaves DW undefined: NULL, not a throw
        round(when(col("e2") =!= 0.0, col("d2") / col("e2")), 6).as("dw"))
  }

  /** Gumbel extreme-value fit of the daily maximum purchase (C257):
    * method-of-moments location/scale (β = s√6/π, μ = x̄ − γβ) over the
    * per-day MAX purchase cents, plus the 30-day return level
    * μ − β·ln(−ln(1 − 1/30)) — "how big a single purchase should we
    * provision for in a month", the capacity question mean-based stats
    * can't answer (the Fisher–Tippett domain of daily maxima). Daily
    * maxima are exact longs; mean and the (n−1)-denominator variance
    * come from exact DECIMAL(38,0) moments; the closed forms are the
    * only float arithmetic, written identically on both engines. */
  def gumbelMax(events: DataFrame): DataFrame = {
    val maxima = events.filter(col("event_type") === "purchase")
      .select(expr("unix_micros(ts) div 86400000000").as("day_idx"),
        cents(col("value")).as("c"))
      .groupBy("day_idx").agg(max(col("c")).as("mx"))
    val m = maxima.agg(count(lit(1)).as("n"), sum(col("mx")).as("s1"),
      sum(col("mx").cast("decimal(38,0)") * col("mx")).as("s2"))
    val mean = col("s1").cast("double") / col("n")
    val sd = sqrt((col("s2").cast("double")
      - col("s1").cast("double") * col("s1").cast("double") / col("n"))
      / (col("n") - 1))
    val beta = sd * math.sqrt(6.0) / math.Pi
    val mu = mean - lit(0.5772156649015329) * beta
    m.filter(col("n") > 1)
      .select(col("n").as("n_days"),
        round(mean, 6).as("mean_max"),
        round(mu, 6).as("gumbel_loc"),
        round(beta, 6).as("gumbel_scale"),
        round(mu - beta * math.log(-math.log(1.0 - 1.0 / 30.0)), 6)
          .as("return_level_30d"))
  }

  /** Value-at-Risk / CVaR of day-over-day revenue changes (C258): the
    * empirical 5% quantile of daily deltas (VaR95 — "a 1-in-20 bad day
    * loses at least this much") and the mean of the deltas at or below
    * it (CVaR95 — how bad those tail days are ON AVERAGE, the coherent
    * risk measure VaR isn't). Deltas are exact long cents off the
    * calendar-bounded day frame's one lag window; the quantile is
    * DISCRETE (lower empirical — an actual observed delta, no
    * interpolation) so the tail mean is an exact-integer average over
    * the ≤ n/20 tail days. */
  def revenueVar(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day_idx"))
    val deltas = events
      .select(expr("unix_micros(ts) div 86400000000").as("day_idx"),
        cents(col("value")).as("c"))
      .groupBy("day_idx").agg(sum(col("c")).as("cents"))
      .withColumn("prev", lag(col("cents"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select((col("cents") - col("prev")).as("delta"))
    // explicit lower-empirical quantile (the ⌈0.05n⌉-th smallest delta by
    // row_number — the VALUE at that rank is tie-order independent):
    // engines disagree on percentile_disc edge conventions, rank doesn't
    val ranked = deltas
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("delta"))))
      .crossJoin(broadcast(deltas.agg(count(lit(1)).as("n_deltas"))))
    val varq = ranked
      .filter(col("rn") === ceil(col("n_deltas") * 0.05).cast("long"))
      .select(col("n_deltas"), col("delta").as("var95"))
    deltas.crossJoin(broadcast(varq))
      .filter(col("delta") <= col("var95"))
      .groupBy("n_deltas", "var95")
      .agg(count(lit(1)).as("n_tail_days"), sum(col("delta")).as("tail_sum"))
      .select(col("n_deltas"), col("var95"), col("n_tail_days"),
        round(col("tail_sum").cast("double") / col("n_tail_days"), 6)
          .as("cvar95"))
  }

  /** Discount elasticity of demand (C148): least squares of
    * ln(quantity) on the discount rate over lineitem — "does a deeper
    * discount move volume?", the pricing regression every retail
    * warehouse runs. Discounts quantize to exact MICRO-units and each
    * ln(quantity) to NANO units, moments accumulate in DECIMAL(38,0)
    * (the heaps_law_fit discipline), and the intercept uses the mean
    * form with the ROUNDED slope so both engines publish identical
    * coefficients. */
  def discountElasticity(lineitem: DataFrame): DataFrame = {
    val pts = lineitem.filter(col("l_quantity") > 0)
      .select(
        round(col("l_discount") * 1e6, 0).cast("long").as("xn"),
        round(log(col("l_quantity")) * 1e9, 0).cast("long").as("yn"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum(col("xn")).as("sx"), sum(col("yn")).as("sy"),
      sum(col("xn").cast("decimal(38,0)") * col("yn")).as("sxy"),
      sum(col("xn").cast("decimal(38,0)") * col("xn")).as("sxx"))
    val denom = (col("n").cast("decimal(38,0)") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    // slope in nano-y per micro-x: scale by 1e6/1e9 = 1e-3 to get
    // d ln(qty) / d discount
    m.select(col("n"), col("sx"), col("sy"),
        round((col("n").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).cast("double") / denom * 1e6 / 1e9,
          6).as("slope"))
      .select(col("n").as("n_lines"), col("slope"),
        round(col("sy").cast("double") / col("n") / 1e9 -
          col("slope") * (col("sx").cast("double") / col("n") / 1e6), 6)
          .as("intercept"))
  }

  /** Events-only data-quality rules as associative (rule, n, v)
    * partials (C143's batch twin): value ≥ 0, user_id present, ts
    * present. Factored so the streaming incremental monitor's merged
    * store can be asserted BIT-identical to this batch recompute. */
  def eventDqReport(events: DataFrame): DataFrame =
    eventDqPartials(events)
      .select(col("rule"), col("n_checked"), col("n_violations"),
        round(when(col("n_checked") > 0,
          col("n_violations").cast("double") / col("n_checked"))
          .otherwise(lit(0.0)), 6).as("violation_rate"))

  /** The raw per-rule counts (no rate): the associative partial both
    * the batch report and the streaming store fold. */
  def eventDqPartials(events: DataFrame): DataFrame = {
    def rule(name: String, violation: Column): DataFrame =
      events.agg(count(lit(1)).as("_n"),
          sum(violation.cast("long")).as("_v"))
        .select(lit(name).as("rule"),
          coalesce(col("_n"), lit(0L)).as("n_checked"),
          coalesce(col("_v"), lit(0L)).as("n_violations"))
    rule("events_nonneg_value", col("value") < 0)
      .unionByName(rule("events_user_present", col("user_id").isNull))
      .unionByName(rule("events_ts_present", col("ts").isNull))
  }

  /** Exact per-type value percentiles (C144): p50/p90/p99 of cents per
    * event type via the exact interpolated `percentile` (≡ DuckDB
    * quantile_cont) — the tail-latency/ticket-size readout every ops
    * dashboard leads with, complementing [[eventsWinsorize]]'s
    * clip-bounds. One aggregate; per-type groups bound the sort.
    *
    * SCALE GUARD: "per-type groups bound the sort" bounds WIDTH, not
    * size — each of the ~5 types buffers corpus/|types| values on one
    * executor in the exact `percentile`, an OOM at 100 TB. The 100 TB
    * path swaps in approx_percentile (mergeable sketch, bounded state,
    * the [[graft.operators.TextOps.approxCharPercentiles]] discipline);
    * this exact name is the small-SF oracle. BASELINE.md ScaleCheck r16
    * pins the growth. */
  def valuePercentilesByType(events: DataFrame): DataFrame =
    events.select(col("event_type"), cents(col("value")).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(percentile(col("c"), lit(0.5)), 4).as("p50_cents"),
        round(percentile(col("c"), lit(0.9)), 4).as("p90_cents"),
        round(percentile(col("c"), lit(0.99)), 4).as("p99_cents"))

  /** Weekly value-percentile trend (C154): p50/p90 of event cents per
    * week — [[valuePercentilesByType]]'s tail readout given a time
    * axis, which is how a latency/ticket-size regression is actually
    * caught (the weekly p90 line bending up). Exact interpolated
    * percentiles per week-bounded group. */
  def weeklyValuePercentiles(events: DataFrame): DataFrame =
    events.select(expr("unix_micros(ts) div 604800000000").as("week_idx"),
        cents(col("value")).as("c"))
      .groupBy("week_idx")
      .agg(count(lit(1)).as("n"),
        round(percentile(col("c"), lit(0.5)), 4).as("p50_cents"),
        round(percentile(col("c"), lit(0.9)), 4).as("p90_cents"))

  /** Autocorrelation of the daily revenue series at lags 1..7 (C156):
    * the weekly-cycle detector — a spike at lag 7 is day-of-week
    * seasonality, slow decay is trend, white noise hugs 0. Pairs are
    * formed by CALENDAR lag (equi-join on day_idx + k), so gap days
    * pair with nothing rather than silently shifting the series.
    *
    * Exactness: daily revenue is an exact BIGINT cents sum; the mean
    * rounds at 9 dp; deviation products round at 6 dp and sum exactly
    * ([[Folds.exactSum]]). One data-sized shuffle total (the daily
    * aggregate); everything after lives on the day frame. */
  def revenueAcf(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val days = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .agg(sum(cents(col("value"))).as("r"))
    val stats = days.agg(count(lit(1)).as("n_days"),
      round(sum(col("r")).cast("double") / count(lit(1)), 9).as("mean_r"))
    val dev = days.crossJoin(broadcast(stats))
      .select(col("day_idx"), (col("r") - col("mean_r")).as("dev"))
    val den = dev.agg(round(Folds.exactSum(round(col("dev") * col("dev"), 6)),
      6).as("den"))
    val lagged = dev.select(
        explode(array((1 to maxLag).map(lit(_)): _*)).as("k"),
        (col("day_idx") + col("k")).as("day_idx"), col("dev").as("dev_lag"))
    dev.join(lagged, Seq("day_idx"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        round(Folds.exactSum(round(col("dev") * col("dev_lag"), 6)), 6)
          .as("num"))
      .crossJoin(broadcast(den))
      .select(col("k").as("lag_days"), col("n_pairs"),
        when(col("den") > 0, round(col("num") / col("den"), 6))
          .otherwise(lit(0.0)).as("acf"))
  }

  /** Theil–Sen robust trend of daily revenue (C157): the median of all
    * pairwise day-slopes plus the median intercept — the
    * outlier-immune "is revenue actually growing" line a single
    * flash-sale day cannot drag the way OLS lets it. Slopes are exact
    * double divisions of BIGINT cents/day deltas; medians are the same
    * interpolated percentile as the engine's quantile family.
    *
    * Scale: one data-sized shuffle builds the day frame; the pairwise
    * slope frame is (time-bounded days)² — ~4k pairs for a quarter,
    * still driver-trivial for decades — and the self-pairing joins on
    * a broadcast of that bounded frame (a bounded BNLJ, the
    * PLAN_AUDIT-documented pattern), never on corpus rows. */
  def theilSenTrend(events: DataFrame): DataFrame = {
    val days = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .agg(sum(cents(col("value"))).as("r"))
    val base = days.crossJoin(broadcast(days.agg(min("day_idx").as("d0"))))
      .select((col("day_idx") - col("d0")).as("d"), col("r"))
    val pairs = base.select(col("d").as("d1"), col("r").as("r1"))
      .join(broadcast(base.select(col("d").as("d2"), col("r").as("r2"))),
        col("d2") > col("d1"))
      .select(((col("r2") - col("r1")) / (col("d2") - col("d1"))).as("slope"))
    val m = pairs.agg(count(lit(1)).as("n_pairs"),
      round(percentile(col("slope"), lit(0.5)), 6).as("slope_cents_per_day"))
    base.crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_days"),
        first(col("n_pairs")).as("n_pairs"),
        first(col("slope_cents_per_day")).as("slope_cents_per_day"),
        round(percentile(col("r") - col("slope_cents_per_day") * col("d"),
          lit(0.5)), 4).as("intercept_cents"))
  }

  /** Per-user ML feature vector (C168): the feature-store
    * materialization every churn/propensity model starts from —
    * activity counts, distinct active days and event types, 30-min
    * session count, exact purchase cents, recency vs the corpus
    * horizon, and mean inter-event gap, all in ONE per-user pass (the
    * signals exist separately across the RFM/session/interarrival
    * family; a trainer wants them as one wide row). Sessions fall out
    * of the same lag window that orders the gap sum. */
  def userFeatures(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val e = events.select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), cents(col("value")).as("c"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
    val horizon = e.agg(expr("max(us) div 86400000000").as("max_day"))
    e.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(expr("us div 86400000000")).as("n_active_days"),
        countDistinct(col("event_type")).as("n_event_types"),
        sum(when(col("prev_us").isNull ||
          col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
          .as("n_sessions"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(when(col("event_type") === "purchase", col("c")).otherwise(0L))
          .as("monetary_cents"),
        expr("max(us) div 86400000000").as("_user_max_day"),
        sum(when(col("prev_us").isNotNull, col("us") - col("prev_us"))
          .otherwise(0L)).as("_gap_us_sum"),
        sum(when(col("prev_us").isNotNull, 1L).otherwise(0L)).as("_n_gaps"))
      .crossJoin(broadcast(horizon))
      .select(col("user_id"), col("n_events"), col("n_active_days"),
        col("n_event_types"), col("n_sessions"), col("n_purchases"),
        col("monetary_cents"),
        (col("max_day") - col("_user_max_day")).as("recency_days"),
        when(col("_n_gaps") > 0,
          round(col("_gap_us_sum").cast("double") / col("_n_gaps")
            / 1000000.0, 4)).otherwise(lit(0.0)).as("mean_gap_s"))
  }

  /** Supplier lead-time profile (C170): order-to-ship latency
    * distribution per supplier — n, mean and p50/p90 days — the
    * supply-chain scorecard that ranks who actually ships on time
    * (ship_latency is the global view; procurement acts per
    * supplier). Latency is exact floor-days off microsecond
    * timestamps; one join to orders on the order key, supplier names
    * broadcast. */
  def supplierLeadtime(lineitem: DataFrame, orders: DataFrame,
                       supplier: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("ship_us"))
      .join(orders.select(col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("order_us")),
        "o_orderkey")
      .select(col("l_suppkey"),
        expr("(ship_us - order_us) div 86400000000").as("lat_days"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("lat_days")).cast("double") / count(lit(1)), 4)
          .as("mean_days"),
        round(percentile(col("lat_days"), lit(0.5)), 4).as("p50_days"),
        round(percentile(col("lat_days"), lit(0.9)), 4).as("p90_days"))
      .join(broadcast(supplier.select(col("s_suppkey").as("l_suppkey"),
        col("s_name"))), "l_suppkey")

  /** Customer value-trend census (C178): per customer with ≥ 3
    * orders, the OLS slope of order cents on order INDEX — then the
    * census of growing vs shrinking accounts and the mean slope, the
    * book-of-business health answer ("are my customers spending more
    * each time they come back"). The per-customer fit is CLOSED FORM
    * off exact integer moments (Σi, Σi², Σc, Σi·c — one ordered
    * window for the index, everything else a grouped aggregate), so
    * no per-customer double fold exists; slopes convert to micro-units
    * before the global mean. */
  def customerValueTrend(orders: DataFrame, minOrders: Long = 3L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val fit = orders
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        cents(col("o_totalprice")).as("c"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(col("i")).as("sx"),
        sum(col("i") * col("i")).as("sxx"), sum(col("c")).as("sy"),
        sum(col("i") * col("c")).as("sxy"))
      .filter(col("n") >= minOrders
        && col("n") * col("sxx") - col("sx") * col("sx") =!= 0L)
      .select(((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        / (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"))
      .select(expr("CAST(round(slope * 1000000) AS BIGINT)").as("sm"))
    fit.agg(count(lit(1)).as("n_customers_fit"),
        sum(when(col("sm") > 0, 1L).otherwise(0L)).as("n_growing"),
        sum(when(col("sm") < 0, 1L).otherwise(0L)).as("n_shrinking"),
        sum(col("sm")).as("_ssum"))
      .select(col("n_customers_fit"), col("n_growing"), col("n_shrinking"),
        round(col("n_growing").cast("double") / col("n_customers_fit"), 6)
          .as("growing_share"),
        round(col("_ssum").cast("double") / col("n_customers_fit")
          / 1000000.0, 4).as("mean_slope_cents_per_order"))
  }

  /** Repurchase-interval profile (C177): gaps between a user's
    * CONSECUTIVE purchases — repeat-buyer share and p50/p90 days
    * between orders, the replenishment-cycle readout
    * ([[interarrivalStats]] times all events; a retention team cares
    * about money events only). One purchase-filtered lag window; exact
    * floor-day gaps. */
  def repurchaseIntervals(events: DataFrame): DataFrame = {
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
    val buyers = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"))
    val b = buyers.agg(count(lit(1)).as("n_buyers"),
      sum(when(col("n_purchases") >= 2, 1L).otherwise(0L)).as("n_repeat"))
    gaps.filter(col("prev_us").isNotNull)
      .select(expr("(us - prev_us) div 86400000000").as("gap_days"))
      .agg(count(lit(1)).as("n_gaps"),
        round(percentile(col("gap_days"), lit(0.5)), 4).as("p50_days"),
        round(percentile(col("gap_days"), lit(0.9)), 4).as("p90_days"))
      .crossJoin(broadcast(b))
      .select(col("n_buyers"), col("n_repeat"),
        round(col("n_repeat").cast("double") / col("n_buyers"), 6)
          .as("repeat_share"),
        col("n_gaps"), col("p50_days"), col("p90_days"))
  }

  /** Lead-time by order priority (C175): does 1-URGENT actually ship
    * faster than 5-LOW — the SLA-honesty check read off the same
    * exact floor-day latency as [[supplierLeadtime]], grouped by the
    * priority a customer paid for. One join + one priority-bounded
    * aggregate. */
  def priorityLeadtime(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("o_orderkey"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("ship_us"))
      .join(orders.select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("order_us")),
        "o_orderkey")
      .select(col("o_orderpriority"),
        expr("(ship_us - order_us) div 86400000000").as("lat_days"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("lat_days")).cast("double") / count(lit(1)), 4)
          .as("mean_days"),
        round(percentile(col("lat_days"), lit(0.5)), 4).as("p50_days"),
        round(percentile(col("lat_days"), lit(0.9)), 4).as("p90_days"))

  /** Customer spend concentration: HHI + effective customer count
    * (C176) — the antitrust-style concentration number next to
    * [[spendGini]]'s inequality curve (Gini says how unequal; HHI says
    * how few customers the revenue effectively rests on, 1/HHI being
    * the "effective N"). Computed from exact integer moments (Σr,
    * Σr² decimal-widened) so no data-sized double fold exists; only
    * the O(1) ratio rounds. */
  def spendHhi(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("r"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("r")).as("s"),
        sum(col("r").cast("decimal(38,0)") * col("r")).as("s2"))
      .select(col("n_customers"),
        round(col("s2").cast("double")
          / (col("s").cast("double") * col("s").cast("double")), 9).as("hhi"))
      .withColumn("effective_n",
        when(col("hhi") > 0, round(lit(1.0) / col("hhi"), 4))
          .otherwise(lit(0.0)))

  /** Return rate per part brand (C171): the retail quality scorecard —
    * share of line items returned (l_returnflag = 'R') and the exact
    * cents of returned revenue per brand. One broadcast part join +
    * one aggregate. */
  def brandReturnRates(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem.select(col("l_partkey"), col("l_returnflag"),
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .as("rev"))
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), "l_partkey")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        sum(when(col("l_returnflag") === "R", col("rev")).otherwise(0L))
          .as("returned_cents"))
      .withColumn("return_rate",
        round(col("n_returned").cast("double") / col("n_lines"), 6))

  /** Price/volume/mix decomposition of revenue change (C169): the
    * finance-analytics workhorse — per part type, the H1→H2 revenue
    * delta split into volume effect (Δq·p₁), price effect (Δp·q₁) and
    * the interaction term, which sum back to ΔR exactly in the
    * algebra (and to double precision here; the exact BIGINT ΔR is
    * also emitted). Halves split at the shipdate midpoint; quantities
    * and cents stay exact integers until the effect products. */
  def priceVolumeMix(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_partkey"),
      expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("_day"),
      expr("CAST(l_quantity AS BIGINT)").as("q"),
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
        .as("rev"))
    val mid = li.agg(expr("(min(_day) + max(_day)) div 2").as("mid"))
    val typed = li.crossJoin(broadcast(mid))
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_type"))), "l_partkey")
    def half(pred: Column, tag: String): DataFrame =
      typed.filter(pred).groupBy("p_type")
        .agg(sum(col("q")).as(s"q$tag"), sum(col("rev")).as(s"rev$tag"))
    half(col("_day") <= col("mid"), "1")
      .join(half(col("_day") > col("mid"), "2"), "p_type")
      .filter(col("q1") > 0 && col("q2") > 0)
      .withColumn("p1", col("rev1").cast("double") / col("q1"))
      .withColumn("p2", col("rev2").cast("double") / col("q2"))
      .select(col("p_type"), col("q1"), col("q2"),
        col("rev1").as("rev1_cents"), col("rev2").as("rev2_cents"),
        (col("rev2") - col("rev1")).as("delta_rev_cents"),
        round((col("q2") - col("q1")) * col("p1"), 4).as("volume_effect"),
        round((col("p2") - col("p1")) * col("q1"), 4).as("price_effect"),
        round((col("p2") - col("p1")) * (col("q2") - col("q1")), 4)
          .as("mix_effect"))
  }

  /** Daily KPI table (C166): the dashboard feed — events, distinct
    * active users, purchase count, exact-cent revenue and ARPU per day
    * in ONE grouped pass (separately these live in dau_mau /
    * weekly_revenue_wow; a daily scorecard wants them in one row).
    * The distinct-user count is the exact per-group distinct; at
    * 100 TB the hot path would swap in approx_count_distinct, which is
    * why the exact form is the oracle here. One shuffle. */
  def dailyKpis(events: DataFrame): DataFrame =
    events.select(expr("unix_micros(ts) div 86400000000").as("day_idx"),
        col("user_id"), col("event_type"), cents(col("value")).as("c"))
      .groupBy("day_idx")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_active_users"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(when(col("event_type") === "purchase", col("c")).otherwise(0L))
          .as("revenue_cents"))
      .withColumn("arpu_cents",
        round(col("revenue_cents").cast("double") / col("n_active_users"), 4))

  /** Monthly revenue growth accounting (C174): [[growthAccounting]]'s
    * MRR-style twin on PURCHASE CENTS — each month's revenue split
    * into new (first-ever month), repeat (paid last month) and
    * resurrected (paid before, skipped last month) exact-cent flows,
    * plus the churned cents (last month's revenue from customers who
    * didn't return) and the repeat-retention rate vs the prior
    * month's total. User counts say who stayed; this says what the
    * flows are WORTH. One per-user month aggregate + one lag/lead
    * window; the month frame is time-bounded. */
  def revenueGrowthAccounting(events: DataFrame): DataFrame = {
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("m")
    val cm = events.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        (year(col("ts")) * 12 + month(col("ts"))).cast("long").as("m"),
        cents(col("value")).as("c"))
      .groupBy("user_id", "m").agg(sum(col("c")).as("r"))
      .withColumn("prev_m", lag(col("m"), 1).over(order))
      .withColumn("next_m", lead(col("m"), 1).over(order))
    val act = cm.groupBy("m").agg(
      sum(col("r")).as("total_cents"),
      sum(when(col("prev_m").isNull, col("r")).otherwise(0L)).as("new_cents"),
      sum(when(col("prev_m") === col("m") - 1, col("r")).otherwise(0L))
        .as("repeat_cents"),
      sum(when(col("prev_m").isNotNull && col("prev_m") < col("m") - 1,
        col("r")).otherwise(0L)).as("resurrected_cents"))
    val churn = cm
      .filter(col("next_m").isNull || col("next_m") > col("m") + 1)
      .groupBy((col("m") + 1).as("m"))
      .agg(sum(col("r")).as("churned_cents"))
    act.join(churn, Seq("m"), "left")
      .join(act.select((col("m") + 1).as("m"),
        col("total_cents").as("prev_total")), Seq("m"), "left")
      .select(col("m").as("month_idx"), col("total_cents"), col("new_cents"),
        col("repeat_cents"), col("resurrected_cents"),
        coalesce(col("churned_cents"), lit(0L)).as("churned_cents"),
        when(col("prev_total") > 0,
          round(col("repeat_cents").cast("double") / col("prev_total"), 6))
          .otherwise(lit(0.0)).as("revenue_retention"))
  }

  /** Weekly growth accounting (C161): every active user classified as
    * NEW (first-ever week), RETAINED (active the week before) or
    * RESURRECTED (active before, but not last week), plus the CHURNED
    * count (active last week, gone this week) — the four flows whose
    * identity `active_w = new + retained + resurrected` and quick
    * ratio (new+resurrected)/churned are how subscription growth is
    * actually read ([[newVsReturning]] is the daily two-class view;
    * this is the full ledger). One distinct + one per-user lag/lead
    * window pass; everything after is week-bounded. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val uw = events.select(col("user_id"),
      expr("unix_micros(ts) div 604800000000").as("week_idx")).distinct()
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("week_idx")
    val lagged = uw
      .withColumn("prev_w", lag(col("week_idx"), 1).over(order))
      .withColumn("next_w", lead(col("week_idx"), 1).over(order))
    val act = lagged.groupBy("week_idx").agg(
      count(lit(1)).as("n_active"),
      sum(when(col("prev_w").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev_w") === col("week_idx") - 1, 1L).otherwise(0L))
        .as("n_retained"),
      sum(when(col("prev_w").isNotNull && col("prev_w") < col("week_idx") - 1,
        1L).otherwise(0L)).as("n_resurrected"))
    val churn = lagged
      .filter(col("next_w").isNull || col("next_w") > col("week_idx") + 1)
      .groupBy((col("week_idx") + 1).as("week_idx"))
      .agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("week_idx"), "left")
      .select(col("week_idx"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("quick_ratio",
        when(col("n_churned") > 0,
          round((col("n_new") + col("n_resurrected")).cast("double")
            / col("n_churned"), 6)).otherwise(lit(0.0)))
  }

  /** Difference-in-differences estimate (C159): the 2×2 causal
    * workhorse — treated (odd user_id, the deterministic assignment the
    * A/B family shares) vs control, pre vs post the timeline midpoint;
    * effect = (T_post − T_pre) − (C_post − C_pre) on mean purchase
    * cents, the parallel-trends-adjusted lift a plain post-only compare
    * overstates. Means round at 6 dp off exact BIGINT sums; the DiD is
    * computed FROM the rounded means so both engines subtract identical
    * values. One scan + one conditional aggregate; the midpoint is a
    * broadcast one-row frame. */
  def diffInDiff(events: DataFrame): DataFrame = {
    val e = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        cents(col("value")).as("c"))
    val mid = e.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    def cell(t: Boolean, post: Boolean) = {
      val m = (col("user_id") % 2 === 1) === t && (col("us") >= col("mid")) === post
      (sum(when(m, 1L).otherwise(0L)),
        when(sum(when(m, 1L).otherwise(0L)) > 0,
          round(sum(when(m, col("c")).otherwise(0L)).cast("double")
            / sum(when(m, 1L).otherwise(0L)), 6)).otherwise(lit(0.0)))
    }
    val (ntp, mtp) = cell(t = true, post = false)
    val (ntq, mtq) = cell(t = true, post = true)
    val (ncp, mcp) = cell(t = false, post = false)
    val (ncq, mcq) = cell(t = false, post = true)
    e.crossJoin(broadcast(mid))
      .agg(ntp.as("n_treat_pre"), mtp.as("mean_treat_pre"),
        ntq.as("n_treat_post"), mtq.as("mean_treat_post"),
        ncp.as("n_ctrl_pre"), mcp.as("mean_ctrl_pre"),
        ncq.as("n_ctrl_post"), mcq.as("mean_ctrl_post"))
      .withColumn("did_cents", round(
        col("mean_treat_post") - col("mean_treat_pre")
          - col("mean_ctrl_post") + col("mean_ctrl_pre"), 6))
  }

  /** Tukey-fence outlier days (C158): flag days whose exact revenue
    * falls outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the robust sibling
    * of the z-score anomaly pass ([[eventsAnomaly]] scores events
    * against a per-user rolling window; this audits the DAILY total
    * against the whole distribution, immune to the outliers it hunts).
    * Quantiles are the engine's interpolated percentile; fences round
    * at 4 dp. One data-sized shuffle (the day aggregate); the fence
    * compare runs on the time-bounded day frame. */
  def revenueOutlierDays(events: DataFrame): DataFrame = {
    val days = events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .agg(sum(cents(col("value"))).as("revenue_cents"))
    val fences = days.agg(
        round(percentile(col("revenue_cents"), lit(0.25)), 4).as("q1"),
        round(percentile(col("revenue_cents"), lit(0.75)), 4).as("q3"))
      .select(col("q1"), col("q3"),
        round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 4).as("lo"),
        round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 4).as("hi"))
    days.crossJoin(broadcast(fences))
      .select(col("day_idx"), col("revenue_cents"), col("lo"), col("hi"),
        (col("revenue_cents") < col("lo") || col("revenue_cents") > col("hi"))
          .as("is_outlier"))
  }

  /** Index of dispersion per event type (C145): variance/mean of the
    * DAILY event-count series — Poisson arrivals sit at 1, bursty
    * (overdispersed) traffic reads ≫ 1, metronomic bots < 1. The
    * per-type complement of [[graft.operators.Sessionize.botScore]]'s
    * per-user gap moments. Daily counts are exact ints; the two moment
    * sums are exact; doubles appear once in the mirrored var/mean
    * expression. */
  def dispersionIndex(events: DataFrame): DataFrame = {
    val daily = events.select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .groupBy("event_type", "day_idx")
      .agg(count(lit(1)).as("c"))
    val mean = col("sc").cast("double") / col("n_days")
    val vari = col("sc2").cast("double") / col("n_days") - mean * mean
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("sc"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sc2"))
      .select(col("event_type"), col("n_days"),
        round(mean, 6).as("mean_daily"),
        round(when(col("sc") > 0, vari / mean).otherwise(lit(0.0)), 6)
          .as("dispersion"))
      .withColumn("overdispersed", col("dispersion") > 1.5)
  }

  /** Declarative data-quality rule report (C141) — the Deequ/dbt-test
    * shape: each rule is one aggregate over its table (range checks,
    * consistency checks, referential orphans via anti-join), emitted as
    * a fixed-arity (rule, n_checked, n_violations, violation_rate) row.
    * Every rule is a partial-aggregable count — no rule materializes
    * violating ROWS (at 100 TB the report must stay tiny even when a
    * feed goes fully bad); the orphan rule's anti-join shuffles on the
    * key like any join. The union is fixed-arity: 5 one-row frames. */
  def dqChecks(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      events: DataFrame, documents: DataFrame): DataFrame = {
    def report(name: String, violations: Column, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("_n"), sum(violations.cast("long")).as("_v"))
        .select(lit(name).as("rule"),
          coalesce(col("_n"), lit(0L)).as("n_checked"),
          coalesce(col("_v"), lit(0L)).as("n_violations"),
          round(when(col("_n") > 0,
            coalesce(col("_v"), lit(0L)).cast("double") / col("_n"))
            .otherwise(lit(0.0)), 6).as("violation_rate"))
    val orphans = orders.join(customer.select(col("c_custkey")),
      orders("o_custkey") === customer("c_custkey"), "left_anti")
    val orphanReport = orders.agg(count(lit(1)).as("_n"))
      .crossJoin(orphans.agg(count(lit(1)).as("_v")))
      .select(lit("orders_orphan_custkey").as("rule"),
        col("_n").as("n_checked"), col("_v").as("n_violations"),
        round(when(col("_n") > 0, col("_v").cast("double") / col("_n"))
          .otherwise(lit(0.0)), 6).as("violation_rate"))
    report("lineitem_quantity_range",
        col("l_quantity") < 1 || col("l_quantity") > 50, lineitem)
      .unionByName(report("lineitem_discount_range",
        col("l_discount") < 0 || col("l_discount") > 0.5, lineitem))
      .unionByName(orphanReport)
      .unionByName(report("events_nonneg_value", col("value") < 0, events))
      .unionByName(report("documents_nchars_consistent",
        col("n_chars") =!= length(col("text")), documents))
  }

  /** Sample-ratio-mismatch check for the A/B splitter (C142): distinct
    * users by variant (user_id % 2) against the designed 50/50, χ² =
    * (a−b)²/n with 1 df, flagged past the 3.841459 critical value — the
    * first gate every experiment readout must pass before anyone reads
    * the metric movement (an SRM means assignment is broken and the
    * t-test/CUPED numbers are garbage). One distinct + one global
    * aggregate; the statistic is exact-integer until the final round. */
  def srmCheck(events: DataFrame): DataFrame =
    events.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("user_id") % 2 === 0, 0L).otherwise(1L)).as("n_b"))
      .select(col("n_users"), col("n_a"), col("n_b"),
        round(when(col("n_users") > 0,
          ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))).cast("double")
            / col("n_users")).otherwise(lit(0.0)), 6).as("chi2"))
      .withColumn("srm_detected", col("chi2") > 3.841459)

  /** Population stability index between time halves (C139): decile bin
    * edges learned from the PRE period (NTILE-exact via the two-pass
    * global rank), BOTH periods assigned through the same 9 inner
    * edges, and per-bin PSI terms (q−p)·ln(q/p) on add-1-smoothed
    * shares — the drift metric every deployed-model scorecard tracks,
    * complementing `ks_source_drift`'s two-sample KS. Per-bin rows; the
    * edges frame is 9 values broadcast as one sorted array, so bin
    * assignment is a narrow map (no join fan-out), and the one ln
    * rounds at 6 dp off exact-integer shares. */
  def psiDrift(events: DataFrame): DataFrame = {
    val e = events.select(col("event_id"),
      expr("unix_micros(ts) div 86400000000").as("day_idx"),
      cents(col("value")).as("c"))
    val bounds = e.agg(min(col("day_idx")).as("min_day"),
      max(col("day_idx")).as("max_day"))
    val tagged = e.crossJoin(broadcast(bounds))
      .withColumn("is_pre",
        col("day_idx") < expr("(min_day + max_day + 1) div 2"))
      .select(col("event_id"), col("c"), col("is_pre"))
    val ref = tagged.filter(col("is_pre")).select(col("event_id"), col("c"))
    val ranked = Ranks.withGlobalRowNumber(ref, "_rnk", "_n",
      Seq(col("c"), col("event_id")))
    val edges = ranked
      .withColumn("decile", Ranks.ntileFromRank(col("_rnk"), col("_n"), 10))
      .groupBy("decile").agg(max(col("c")).as("edge"))
      .filter(col("decile") <= 9)
      .agg(sort_array(collect_list(col("edge"))).as("edges"))
    val binned = tagged.crossJoin(broadcast(edges))
      .select(col("is_pre"),
        (size(filter(col("edges"), x => x < col("c"))) + 1).cast("long").as("bin"))
    val counts = binned.groupBy("bin")
      .agg(sum(when(col("is_pre"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_pre"), 0L).otherwise(1L)).as("n_post"))
    val totals = counts.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_post")).as("t_post"))
    val p = (col("n_ref") + 1).cast("double") / (col("t_ref") + 10)
    val q = (col("n_post") + 1).cast("double") / (col("t_post") + 10)
    counts.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_post"),
        round(p, 6).as("p_ref"), round(q, 6).as("p_post"),
        round((q - p) * log(q / p), 6).as("psi_term"))
  }

  /** Exponential retention-decay fit (C140): pooled retention r_k =
    * (distinct users active k weeks after their first week) / (users
    * whose observed span allows offset k), for k ≥ 1, then least
    * squares of ln r_k on k — slope λ and half-life −ln2/λ, the decay
    * constant that turns the cohort matrix into one forecastable
    * number. Offsets are week-count-bounded (a time-bounded frame), so
    * the regression moments are a tiny exact-integer aggregate; each
    * ln r_k rounds once to NANO units, mirroring the Heaps-fit
    * discipline. */
  def retentionDecayFit(events: DataFrame): DataFrame = {
    val uw = events.select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week_idx"))
      .distinct()
    val first = uw.groupBy("user_id").agg(min(col("week_idx")).as("first_week"))
    val horizon = uw.agg(max(col("week_idx")).as("max_week"))
    val active = uw.join(first, "user_id")
      .select(col("user_id"), (col("week_idx") - col("first_week")).as("k"))
      .filter(col("k") >= 1).distinct()
    val byK = active.groupBy("k").agg(count(lit(1)).as("n_active"))
    // at-risk users for offset k: first_week + k <= max_week. Each user
    // contributes to every k in 1..max_k — a WEEK-COUNT-bounded explode
    // (the dau_mau ×window pattern), never users × users
    val risk = first.crossJoin(broadcast(horizon))
      .select((col("max_week") - col("first_week")).as("max_k"))
      .filter(col("max_k") >= 1)
      .select(explode(sequence(lit(1L), col("max_k"))).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_at_risk"))
    val rates = byK.join(risk, "k")
      .select(col("k"),
        col("n_active"), col("n_at_risk"),
        round(log(col("n_active").cast("double") / col("n_at_risk")) * 1e9, 0)
          .cast("long").as("yn"))
    val m = rates.agg(count(lit(1)).as("n"),
      sum(col("k")).as("sx"), sum(col("yn")).as("sy"),
      sum(col("k").cast("decimal(38,0)") * col("yn")).as("sxy"),
      sum(col("k").cast("decimal(38,0)") * col("k")).as("sxx"))
    val denom = (col("n").cast("decimal(38,0)") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    m.select(col("n").as("n_points"),
        round((col("n").cast("decimal(38,0)") * col("sxy") -
          col("sx").cast("decimal(38,0)") * col("sy")).cast("double") / denom / 1e9, 6)
          .as("lambda"))
      .withColumn("half_life_weeks",
        when(col("lambda") < 0, round(lit(-math.log(2.0)) / col("lambda"), 6)))
  }

  /** Top weekly movers (C138): per week, the 3 event types with the
    * largest absolute week-over-week revenue delta — the "what changed"
    * dashboard row. Weekly cents are exact sums; the per-type lag
    * window is bounded by the number of weeks (time-bounded, not
    * data-sized); the per-week top-3 rides the native
    * [[graft.plans.TopK]] operator so no week sorts more than k rows
    * past the partial aggregates. Weeks without a prior observation for
    * a type are skipped (no delta), both engines identically. */
  def topMovers(events: DataFrame, k: Int = 3): DataFrame = {
    val weekly = events
      .select(expr("unix_micros(ts) div 604800000000").as("week_idx"),
        col("event_type"), cents(col("value")).as("c"))
      .groupBy("week_idx", "event_type")
      .agg(sum(col("c")).as("rev_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("week_idx")
    val deltas = weekly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .filter(col("prev_cents").isNotNull)
      .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
      .withColumn("abs_delta", abs(col("delta_cents")))
    val top = graft.plans.TopK.topKPerKey(deltas, Seq("week_idx"),
      Seq("abs_delta" -> false, "event_type" -> true), k)
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("week_idx").orderBy(col("abs_delta").desc, col("event_type"))
    top.withColumn("rank", row_number().over(rk).cast("long"))
      .select(col("week_idx"), col("rank"), col("event_type"),
        col("rev_cents"), col("prev_cents"), col("delta_cents"))
  }

  /** Item-item collaborative-filtering similarity (C130): cosine between
    * items' customer-interaction vectors — co_count / sqrt(n_a · n_b)
    * over distinct (customer, part) baskets from lineitem ⋈ orders.
    * The classic Sarwar et al. item-based CF precompute.
    *
    * Scale posture: the pair generation self-joins baskets on customer,
    * which is quadratic per CUSTOMER — so whale customers (carts far
    * beyond organic size: resellers, bots) are capped at `maxBasket`
    * items first, the same heavy-hitter guard the similarity joins use.
    * The cap changes results (documented, identical in the oracle);
    * everything after is one pair-keyed aggregate. sqrt is the only
    * transcendental and IEEE-exact on both engines. */
  def itemCfScores(lineitem: DataFrame, orders: DataFrame,
      maxBasket: Int = 50, minCo: Long = 2L): DataFrame = {
    val baskets = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .distinct()
    val sized = baskets
      .withColumn("basket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cust"))))
      .filter(col("basket_n") <= maxBasket)
      .select("cust", "item")
    val itemN = sized.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairs = sized.select(col("cust"), col("item").as("item_a"))
      .join(sized.select(col("cust"), col("item").as("item_b")), "cust")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCo)
    pairs
      .join(itemN.select(col("item").as("item_a"), col("n_item").as("n_a")), "item_a")
      .join(itemN.select(col("item").as("item_b"), col("n_item").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"), col("n_co"),
        round(col("n_co").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")), 6).as("cosine"))
  }

  /** Kaplan-Meier survival curve over user lifetimes (C131): duration =
    * last active day − first active day; a user whose last activity is
    * within `censorDays` of the corpus horizon is CENSORED (still
    * alive), not churned — the estimator's whole point. Per distinct
    * duration t: n_risk (users with duration ≥ t), d (churn events at
    * t), c (censored at t), and S(t) = Π_{u≤t} (1 − d_u/n_risk_u).
    *
    * The product is an ordered cumulative sum of ln terms: each factor
    * is an exact rational whose ln rounds once to NANO units (9 dp) —
    * an exact long — and the running sum rides
    * [[Ranks.withGlobalCumSum]]'s two-pass range-partitioned machinery
    * (durations are data-sized at web scale), so the composed sum is
    * cut-placement-free and the oracle's window cumsum matches bit for
    * bit. A zero factor (everyone at risk churns — only possible at the
    * final duration) short-circuits to S = 0 instead of ln(0). */
  def survivalCurve(events: DataFrame, censorDays: Int = 7): DataFrame = {
    val span = events.select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .groupBy("user_id")
      .agg(min(col("day_idx")).as("first_day"), max(col("day_idx")).as("last_day"))
    val horizon = span.agg(max(col("last_day")).as("max_day"))
    val users = span.crossJoin(broadcast(horizon))
      .select((col("last_day") - col("first_day")).as("duration_days"),
        (col("last_day") < col("max_day") - censorDays).cast("long").as("churned"))
    val byT = users.groupBy("duration_days")
      .agg(count(lit(1)).as("n_t"), sum(col("churned")).as("d_t"))
    val swept = Ranks.withGlobalCumSum(byT, "n_t", "cum_n", "n_users",
      Seq(col("duration_days")))
    val risk = swept.select(col("duration_days"), col("d_t"),
      (col("n_t") - col("d_t")).as("c_t"),
      (col("n_users") - col("cum_n") + col("n_t")).as("n_risk"))
    val lnNano = risk.withColumn("ln_nano",
      when(col("d_t") === col("n_risk"), lit(0L)) // zero factor: S pinned to 0 below
        .otherwise(round(log(lit(1.0) -
          col("d_t").cast("double") / col("n_risk")) * 1e9, 0).cast("long")))
    Ranks.withGlobalCumSum(lnNano, "ln_nano", "cum_ln", "total_ln",
        Seq(col("duration_days")))
      .select(col("duration_days"), col("n_risk"), col("d_t").as("n_churned"),
        col("c_t").as("n_censored"),
        when(col("d_t") === col("n_risk"), lit(0.0))
          .otherwise(round(exp(col("cum_ln").cast("double") / 1e9), 6))
          .as("survival"))
  }
  /** Log-rank test on time-to-first-purchase between the A/B user
    * parities (C261, Mantel–Cox): the standard two-group comparison of
    * Kaplan–Meier curves — at each distinct conversion time, observed
    * group-A conversions against the hypergeometric expectation
    * dₜ·n_Aₜ/nₜ given the at-risk sets, χ²(1) = (O−E)²/V. The event is
    * FIRST PURCHASE measured from each user's first event;
    * never-purchasers are right-censored at their last event — the
    * time-to-convert A/B readout [[survivalCurve]]'s churn framing
    * can't give (and on the dense synthetic corpus churn literally
    * never fires). At-risk counts come from cumulative sums over the
    * CALENDAR-BOUNDED duration axis (config-sized ordered windows); O
    * is an exact long, E and the hypergeometric variance fold 9 dp
    * terms in time order; single-at-risk times contribute zero
    * variance; a corpus with no conversions at all still yields its
    * one summary row (chi2 NULL). */
  def logrankTest(events: DataFrame): DataFrame = {
    val span = events.select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .groupBy("user_id")
      .agg(min(col("day_idx")).as("first_day"), max(col("day_idx")).as("last_day"),
        min(when(col("event_type") === "purchase", col("day_idx"))).as("p_day"))
    val users = span
      .select((col("user_id") % 2 === 0).cast("long").as("grp_a"),
        (coalesce(col("p_day"), col("last_day")) - col("first_day")).as("t"),
        col("p_day").isNotNull.cast("long").as("churned"))
    val byT = users.groupBy("t")
      .agg(sum(col("grp_a")).as("n_a"),
        (count(lit(1)) - sum(col("grp_a"))).as("n_b"),
        sum(col("grp_a") * col("churned")).as("d_a"),
        sum((lit(1L) - col("grp_a")) * col("churned")).as("d_b"))
    val tot = users.agg(sum(col("grp_a")).as("tot_a"),
      (count(lit(1)) - sum(col("grp_a"))).as("tot_b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val risk = byT.crossJoin(broadcast(tot))
      .withColumn("cum_a", sum(col("n_a")).over(w))
      .withColumn("cum_b", sum(col("n_b")).over(w))
      .select(col("t"), col("d_a"), col("d_b"),
        (col("tot_a") - col("cum_a") + col("n_a")).as("r_a"),
        (col("tot_b") - col("cum_b") + col("n_b")).as("r_b"),
        col("tot_a"), col("tot_b"))
    val fr = col("r_a").cast("double") / (col("r_a") + col("r_b"))
    val dt = col("d_a") + col("d_b")
    val nt = col("r_a") + col("r_b")
    // no dt > 0 filter: zero-churn times contribute exact-0 terms, and
    // keeping them makes the query TOTAL — a corpus with no churn at all
    // still yields its one summary row (chi2 NULL) instead of vanishing
    risk.groupBy("tot_a", "tot_b")
      .agg(sum(col("d_a")).as("o1"),
        Folds.exactSum(round(dt * fr, 9)).as("e"),
        Folds.exactSum(when(nt > 1,
          round(dt * fr * (lit(1.0) - fr) * (nt - dt) / (nt - 1), 9))
          .otherwise(lit(0.0))).as("v"))
      .select(col("tot_a").as("n_users_a"), col("tot_b").as("n_users_b"),
        col("o1"),
        round(col("e"), 6).as("e1"),
        round(when(col("v") > 0.0,
          (col("o1") - col("e")) * (col("o1") - col("e")) / col("v")), 6).as("chi2"),
        lit(1L).as("dof"))
  }

  /** Exact 7-day rolling median of daily revenue (C179): the robust
    * trend line a dashboard overlays on spiky daily revenue — median,
    * not mean, so one flash-sale day doesn't drag the whole window.
    * Contribution-explode shape, NOT a range self-join: each day's
    * cents total fans out to the ≤7 window rows it participates in
    * (sequence explode), then one (window day) aggregate takes the
    * exact interpolated percentile over its ≤7 values — bounded buffer,
    * equi-join shaped, no BroadcastNestedLoop range probe anywhere.
    * Windows anchor only on days that exist (semi-join), and each
    * window reports how many of its 7 days had revenue. */
  def revenueRollingMedian(orders: DataFrame, win: Int = 7): DataFrame = {
    val daily = orders
      .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
        .as("day_idx"))
      .agg(sum(cents(col("o_totalprice"))).as("r"))
    val contrib = daily.select(col("r"),
      explode(sequence(col("day_idx"), col("day_idx") + (win - 1))).as("w_day"))
    contrib.join(daily.select(col("day_idx").as("w_day")), Seq("w_day"), "left_semi")
      .groupBy("w_day")
      .agg(count(lit(1)).as("n_days_in_window"),
        round(percentile(col("r"), lit(0.5)), 4).as("roll_median_cents"))
      .select(col("w_day").as("day_idx"), col("n_days_in_window"),
        col("roll_median_cents"))
  }

  /** Gaps-and-islands of user activity (C180): each user's maximal runs
    * of CONSECUTIVE active days — the classic streak query (row_number
    * difference trick: day − per-user rank is constant within a run).
    * The per-user window partitions by user_id, so the sort is
    * per-user-bounded and partition-parallel at any corpus size; output
    * is one row per island. */
  def activeDayIslands(events: DataFrame): DataFrame = {
    val d = events.select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) div 86400000000")
          .as("day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
    d.withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
        count(lit(1)).as("n_days"))
      .select("user_id", "start_day", "end_day", "n_days")
  }

  /** Distributed PERCENT_RANK / CUME_DIST over every order (C181): the
    * global-window pair warehouses lean on for "what percentile is this
    * order", computed WITHOUT a single-partition window — the total
    * order (cents, orderkey) is tie-free, so percent_rank over it
    * equals the row_number form (rnk−1)/(n−1), and both ride
    * [[Ranks.withGlobalRowNumber]]'s range-partitioned two-pass rank. */
  def orderPricePercentiles(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"))
    Ranks.withGlobalRowNumber(o, "_rnk", "_n",
        Seq(col("cents").asc, col("o_orderkey").asc))
      .select(col("o_orderkey"), col("cents"),
        round((col("_rnk") - 1).cast("double") / (col("_n") - 1), 6)
          .as("pct_rank"),
        round(col("_rnk").cast("double") / col("_n"), 6).as("cume_dist"))
  }

  /** Customer-nation x supplier-nation trade matrix (C182): exact
    * revenue cents for every nation pair — TPC-H Q7's shape with the
    * two-nation filter lifted to the full nations² (≤ 625-row) matrix.
    * lineitem shuffles once onto orders, once onto customer; nation
    * (25 rows) broadcasts twice; supplier broadcasts as the smaller
    * dimension. The matrix frame is schema-bounded, never data-sized. */
  def nationTradeMatrix(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame): DataFrame = {
    val rev = lineitem.select(col("l_orderkey"), col("l_suppkey"),
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
        .as("rev"))
    val cn = nation.select(col("n_nationkey").as("c_nationkey"),
      col("n_name").as("cust_nation"))
    val sn = nation.select(col("n_nationkey").as("s_nationkey"),
      col("n_name").as("supp_nation"))
    rev
      .join(orders.select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
        "l_orderkey")
      .join(customer.select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "o_custkey")
      .join(broadcast(cn), "c_nationkey")
      .join(broadcast(supplier.select(col("s_suppkey").as("l_suppkey"),
        col("s_nationkey"))), "l_suppkey")
      .join(broadcast(sn), "s_nationkey")
      .groupBy("cust_nation", "supp_nation")
      .agg(count(lit(1)).as("n_lines"), sum(col("rev")).as("revenue_cents"))
  }

  /** Weekly end-of-week balance census (C183): the SEMI-ADDITIVE
    * aggregation warehouses special-case — per (user, week) take the
    * LAST event value (by time, event_id tie-break), then sum those
    * period-end values per week. Summing raw values would double-count
    * within the period; summing last-values is the balance semantics.
    * One (user, week) shuffle for the per-user window; the weekly
    * roll-up is calendar-bounded. */
  def weeklyLastBalance(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), cents(col("value")).as("c"))
      .withColumn("week",
        expr("(us - pmod(us, 604800000000)) div 604800000000"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "week").orderBy(col("us").desc, col("event_id").desc)
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("week")
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("eow_balance_cents"))
  }
  /** Top-3 orders per customer by price (C184): the per-group top-N
    * every CRM export runs, through the custom TopKPerKey heap operator
    * — per-customer candidate pruning in the partial phase, so no
    * per-customer sort materializes — then an exact row_number over the
    * ≤3-row survivors. Ties break on orderkey. */
  def topOrdersPerCustomer(orders: DataFrame, k: Int = 3): DataFrame = {
    val o = orders.select(col("o_custkey"), col("o_orderkey"),
      cents(col("o_totalprice")).as("cents"))
    val pruned = graft.plans.TopK.topKPerKey(o, Seq("o_custkey"),
      Seq("cents" -> false, "o_orderkey" -> true), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("cents").desc, col("o_orderkey"))
    pruned.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("o_custkey", "rnk", "o_orderkey", "cents")
  }

  /** Monthly revenue share per market segment with MoM share delta
    * (C185): the mix-shift dashboard — is the BUILDING segment growing
    * at the expense of MACHINERY, or is everything just seasonal? One
    * orders-customer join (shuffle on custkey), then everything lives
    * on the (month x segment)-bounded frame: share-of-month ratios and
    * a segment-partitioned lag window over months. */
  def mktsegmentMonthlyShare(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rev = orders.select(col("o_custkey"), cents(col("o_totalprice")).as("c"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).cast("long")
          .as("month_idx"))
      .join(customer.select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
      .groupBy("month_idx", "c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), sum(col("c")).as("revenue_cents"))
    val mtot = rev.groupBy("month_idx").agg(sum(col("revenue_cents")).as("mrev"))
    val wSeg = org.apache.spark.sql.expressions.Window
      .partitionBy("c_mktsegment").orderBy("month_idx")
    rev.join(mtot, "month_idx")
      .withColumn("share",
        round(col("revenue_cents").cast("double") / col("mrev"), 6))
      .withColumn("share_mom_delta",
        round(col("share") - lag(col("share"), 1).over(wSeg), 6))
      .select("month_idx", "c_mktsegment", "n_orders", "revenue_cents",
        "share", "share_mom_delta")
  }

  /** Customer account-balance profile per nation (C186): size, share in
    * arrears (negative balance), and exact interpolated percentiles of
    * balance cents — the credit-risk slice of the customer dimension.
    * One broadcast nation join + one partial-agg/percentile shuffle onto
    * the 25-row nation key. */
  def nationAcctbalProfile(customer: DataFrame, nation: DataFrame): DataFrame =
    customer.select(col("c_nationkey"), cents(col("c_acctbal")).as("bal"))
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), "c_nationkey")
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum((col("bal") < 0).cast("long")).as("n_negative"),
        round(percentile(col("bal"), lit(0.1)), 4).as("p10_cents"),
        round(percentile(col("bal"), lit(0.5)), 4).as("p50_cents"),
        round(percentile(col("bal"), lit(0.9)), 4).as("p90_cents"))
      .withColumn("negative_share",
        round(col("n_negative").cast("double") / col("n_customers"), 6))

  /** Quantity x discount revenue response grid (C187): mean line
    * revenue over the (quantity, discount-basis-point) grid — the
    * pricing surface behind discount-elasticity reads, exact-integer
    * cents until the one rounded mean. The grid is schema-bounded
    * (quantities x ~11 discount levels), one partial-agg shuffle. */
  def quantityDiscountGrid(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_quantity").cast("long").as("quantity"),
        round(col("l_discount") * 100).cast("long").as("discount_bp"),
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .as("rev"))
      .groupBy("quantity", "discount_bp")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev")).as("revenue_cents"),
        round(sum(col("rev")).cast("double") / count(lit(1)), 4)
          .as("mean_line_cents"))
  /** Cumulative revenue share by day (C188): "what fraction of
    * all-time revenue had arrived by day d" — the temporal Lorenz curve
    * behind run-rate and seasonality-vs-growth reads. The daily frame is
    * calendar-bounded; the running sum rides [[Ranks.withGlobalCumSum]]'s
    * range-partitioned two-pass machinery, never a one-task window. */
  def ordersRunningShare(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
        .as("day_idx"))
      .agg(sum(cents(col("o_totalprice"))).as("r"))
    Ranks.withGlobalCumSum(daily, "r", "cum_r", "total_r", Seq(col("day_idx")))
      .select(col("day_idx"), col("r"), col("cum_r"),
        round(col("cum_r").cast("double") / col("total_r"), 6).as("cum_share"))
  }

  /** Supplier-concentration HHI per part type (C190): for each part
    * type, the Herfindahl index of supplier revenue shares — the
    * supply-chain single-source risk readout ([[spendHhi]]'s moment
    * formulation applied per type: HHI = Σr²/ (Σr)², effective
    * suppliers = 1/HHI). Part broadcasts; one partial-agg shuffle onto
    * the (type, supplier) key, then a type-bounded roll-up. */
  def supplierHhiByType(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem.select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .as("rev"))
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"), col("p_type"))),
        "l_partkey")
      .groupBy("p_type", "l_suppkey")
      .agg(sum(col("rev")).as("r"))
      .groupBy("p_type")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("r")).as("s"),
        sum(col("r").cast("decimal(38,0)") * col("r")).as("s2"))
      .select(col("p_type"), col("n_suppliers"),
        round(col("s2").cast("double")
          / (col("s").cast("double") * col("s").cast("double")), 9).as("hhi"))
      .withColumn("effective_suppliers",
        when(col("hhi") > 0, round(lit(1.0) / col("hhi"), 4)).otherwise(lit(0.0)))

  /** Order aging report (C191): orders bucketed by age against the
    * dataset's latest order date (0-29 / 30-59 / 60-89 / 90+ days), per
    * order status — the AR-style aging table every ops dashboard
    * carries. The reference date is a one-row broadcast; buckets are
    * schema-bounded. */
  def orderAgingBuckets(orders: DataFrame): DataFrame = {
    val withDay = orders.select(col("o_orderstatus"),
      cents(col("o_totalprice")).as("c"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("d"))
    val ref = withDay.agg(max(col("d")).as("ref_d"))
    withDay.crossJoin(broadcast(ref))
      .withColumn("age_days", col("ref_d") - col("d"))
      .withColumn("bucket",
        when(col("age_days") < 30, "00-29")
          .when(col("age_days") < 60, "30-59")
          .when(col("age_days") < 90, "60-89")
          .otherwise("90+"))
      .groupBy("o_orderstatus", "bucket")
      .agg(count(lit(1)).as("n_orders"), sum(col("c")).as("total_cents"))
  }

  /** Trailing 1-hour TIME-RANGE window per user (C192): count and exact
    * cents of each user's events in the last hour BY TIMESTAMP RANGE,
    * not row count — the frame semantics (RANGE BETWEEN interval
    * PRECEDING) that rows-based windows get subtly wrong on bursty
    * streams (10 events in one second = one range, ten rows). Per-user
    * partitioned window — one shuffle, partition-parallel. */
  def eventsRangeWindow(events: DataFrame, windowUs: Long = 3600000000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-windowUs, 0)
    events
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), cents(col("value")).as("c"))
      .select(col("event_id"), col("user_id"), col("us"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(col("c")).over(w).as("cents_trailing_1h"))
  }

  /** Benjamini-Hochberg FDR over per-metric permutation p-values (B234):
    * one md5-deterministic permutation test PER EVENT TYPE (does the
    * variant split move this type's per-user spend?), then the BH
    * step-up at level `q` across the family — the multiple-testing
    * guard every metrics dashboard needs once it watches more than one
    * metric. p-values are add-one permutation p's (exact integer
    * comparisons of identically-computed doubles); the BH threshold
    * k*·q/m and the rejection set are pure integer/rank logic, so the
    * whole readout is engine-exact.
    *
    * Scale shape: one (type, user) aggregate; the permutation frame is
    * rows × nPerms spread across the cluster with a single (type, p)
    * conditional-agg groupBy; the BH pass runs on the m-row family. */
  def bhFdr(events: DataFrame, nPerms: Int = 100, q: Double = 0.10): DataFrame = {
    val per = events
      .select(col("event_type"), col("user_id"), cents(col("value")).as("c"))
      .groupBy("event_type", "user_id").agg(sum(col("c")).as("tot"))
    def meanDiff(side: Column) = {
      val s0 = sum(when(side === 0L, col("tot")).otherwise(0L))
      val n0 = sum(when(side === 0L, 1L).otherwise(0L))
      val s1 = sum(when(side === 1L, col("tot")).otherwise(0L))
      val n1 = sum(when(side === 1L, 1L).otherwise(0L))
      s0.cast("double") / n0 - s1.cast("double") / n1
    }
    val obs = per.groupBy("event_type")
      .agg(meanDiff(col("user_id") % 2).as("obs_diff"))
    val perms = per
      .select(col("event_type"), col("user_id"), col("tot"),
        explode(expr(s"sequence(1, $nPerms)")).as("p"))
      .withColumn("side",
        conv(substring(md5(concat_ws(":", col("event_type"), col("p"),
          col("user_id"))), 1, 8), 16, 10).cast("long") % 2)
      .groupBy("event_type", "p").agg(meanDiff(col("side")).as("pdiff"))
    val pvals = perms.join(broadcast(obs), "event_type")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.first(col("obs_diff")).as("obs_diff"),
        sum(when(abs(col("pdiff")) >= abs(col("obs_diff")), 1L).otherwise(0L))
          .as("n_ge"))
      .select(col("event_type"), round(col("obs_diff"), 6).as("obs_diff"),
        round((col("n_ge") + 1L).cast("double") / (nPerms + 1), 6).as("p_value"))
    val m = pvals.agg(count(lit(1)).as("m"))
    val wAsc = org.apache.spark.sql.expressions.Window
      .orderBy(col("p_value").asc, col("event_type"))
    val ranked = pvals.crossJoin(broadcast(m))
      .withColumn("rnk", row_number().over(wAsc).cast("long"))
      .withColumn("bh_thresh", round(col("rnk").cast("double") * q / col("m"), 6))
    // k* = the largest rank whose p clears its threshold; every rank
    // <= k* rejects (step-up)
    val kStar = ranked.agg(coalesce(max(when(col("p_value") <= col("bh_thresh"),
      col("rnk"))), lit(0L)).as("k_star"))
    ranked.crossJoin(broadcast(kStar))
      .select(col("event_type"), col("obs_diff"), col("p_value"), col("rnk"),
        col("bh_thresh"), (col("rnk") <= col("k_star")).as("rejected"))
  }

  /** Mann-Kendall trend test on daily revenue (B235): the exact
    * nonparametric "is there a monotone trend" statistic — S = Σ_{i<j}
    * sign(c_j − c_i) over day-ordered daily cents, tie-corrected
    * variance, and the continuity-corrected z. Theil-Sen
    * ([[theilSenTrend]]'s slope) says how steep; this says how sure.
    * S and every tie count are exact integers off the calendar-bounded
    * daily frame (the day×day pair space is bounded by the calendar²,
    * never by data volume); z is one fixed-order double expression
    * rounded at 6 dp. */
  def mannKendall(orders: DataFrame): DataFrame = {
    val daily = orders
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day_idx"),
        cents(col("o_totalprice")).as("c"))
      .groupBy("day_idx").agg(sum(col("c")).as("cents"))
    val s = daily.select(col("day_idx").as("i"), col("cents").as("ci"))
      .join(daily.select(col("day_idx").as("j"), col("cents").as("cj")),
        col("i") < col("j"))
      .agg(sum(signum(col("cj") - col("ci")).cast("long")).as("s_stat"))
    val n = daily.agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy("cents").agg(count(lit(1)).as("t"))
      .filter(col("t") > 1L)
      .agg(coalesce(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)),
        lit(0L)).as("tie_term"))
    s.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .withColumn("var_s",
        (col("n_days") * (col("n_days") - 1L) * (lit(2L) * col("n_days") + 5L)
          - col("tie_term")).cast("double") / 18.0)
      // var_s is ~1e9: 6 dp would be sub-ulp (the round() seam), 2 dp is
      // ~10^5 ulps wide — the seasonal_decompose discipline
      .select(col("n_days"), col("s_stat"), round(col("var_s"), 2).as("var_s"),
        round(
          when(col("s_stat") > 0L, (col("s_stat") - 1L).cast("double") / sqrt(col("var_s")))
            .when(col("s_stat") < 0L, (col("s_stat") + 1L).cast("double") / sqrt(col("var_s")))
            .otherwise(lit(0.0)), 6).as("z"),
        signum(col("s_stat")).cast("long").as("trend"))
  }

  /** Sequential probability ratio test walk (B232, Wald 1945): the
    * always-monitoring sibling of [[abTtest]]/[[permutationTest]] — the
    * treatment arm's conversion indicators stream in user_id order, the
    * cumulative log-likelihood ratio between H1 (p = p1) and H0 (p = p0)
    * walks with them, and the readout is the FIRST boundary crossing:
    * ln((1−β)/α) above accepts H1, ln(β/(1−α)) below accepts H0,
    * neither means keep collecting. What a "stop the experiment early?"
    * dashboard computes on every refresh.
    *
    * LLR_n = conv_n·ln(p1/p0) + (n − conv_n)·ln((1−p1)/(1−p0)) off
    * exact cumulative integer sums, evaluated in one fixed order, so
    * both engines walk bit-identical doubles; the crossing row is the
    * min user-rank satisfying either predicate (deterministic). One
    * per-user aggregate + one ordered window over the arm. */
  def sprtBoundary(events: DataFrame, p0: Double = 0.4, p1: Double = 0.6,
                   alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    val arm = events
      .filter(col("user_id") % 2 === 1) // the treatment arm
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("user_id")
    val up = math.log((1.0 - beta) / alpha)
    val lo = math.log(beta / (1.0 - alpha))
    val walked = arm
      .withColumn("n", row_number().over(w).cast("long"))
      .withColumn("conv", sum(col("x")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("llr",
        col("conv").cast("double") * math.log(p1 / p0)
          + (col("n") - col("conv")).cast("double") * math.log((1.0 - p1) / (1.0 - p0)))
      .withColumn("crossed",
        when(col("llr") >= up, lit("accept_h1"))
          .when(col("llr") <= lo, lit("accept_h0")))
    val first = walked.filter(col("crossed").isNotNull)
      .orderBy(col("n").asc).limit(1)
      .select(col("crossed").as("decision"), col("n").as("n_at_decision"),
        round(col("llr"), 6).as("llr_at_decision"))
    val tot = arm.agg(count(lit(1)).as("n_users"),
      sum(col("x")).as("n_conversions"))
    // left join against the 0-or-1-row crossing: no crossing -> continue
    tot.withColumn("_k", lit(1))
      .join(broadcast(first.withColumn("_k", lit(1))), Seq("_k"), "left")
      .select(col("n_users"), col("n_conversions"),
        coalesce(col("decision"), lit("continue")).as("decision"),
        col("n_at_decision"), col("llr_at_decision"))
  }

  /** Deterministic permutation test (B224): the nonparametric sibling of
    * [[abTtest]] — is the observed variant difference in per-user spend
    * larger than chance relabelings produce? Each of `nPerms` permutations
    * reassigns every user's side by md5("p:user") mod 2 (no PRNG, so both
    * engines and every retry draw the SAME relabelings); the p-value is
    * the add-one-smoothed share of permuted |mean diff|s at or above the
    * observed one.
    *
    * Scale shape: the corpus collapses to per-user exact cents totals
    * once; the permutation frame is users × nPerms rows spread across the
    * cluster (one conditional-agg groupBy on p — never a per-permutation
    * pass over the data). All means divide exact long sums in one fixed
    * order; the ≥ comparison runs on identically-computed doubles. */
  def permutationTest(events: DataFrame, nPerms: Int = 200): DataFrame = {
    val per = events
      .select(col("user_id"), cents(col("value")).as("c"))
      .groupBy("user_id").agg(sum(col("c")).as("tot"))
    def meanDiff(side: Column) = {
      val s0 = sum(when(side === 0L, col("tot")).otherwise(0L))
      val n0 = sum(when(side === 0L, 1L).otherwise(0L))
      val s1 = sum(when(side === 1L, col("tot")).otherwise(0L))
      val n1 = sum(when(side === 1L, 1L).otherwise(0L))
      (s0.cast("double") / n0 - s1.cast("double") / n1).as("diff")
    }
    val obs = per.agg(count(lit(1)).as("n_users"),
      meanDiff(col("user_id") % 2))
    val perms = per
      .select(col("user_id"), col("tot"),
        explode(expr(s"sequence(1, $nPerms)")).as("p"))
      .withColumn("side",
        conv(substring(md5(concat_ws(":", col("p"), col("user_id"))), 1, 8),
          16, 10).cast("long") % 2)
      .groupBy("p").agg(meanDiff(col("side")).as("pdiff"))
    val nGe = perms.crossJoin(broadcast(obs.select(col("diff").as("obs_diff"))))
      .agg(sum(when(abs(col("pdiff")) >= abs(col("obs_diff")), 1L).otherwise(0L))
        .as("n_ge"))
    obs.crossJoin(broadcast(nGe))
      .select(col("n_users"), round(col("diff"), 6).as("obs_diff"),
        lit(nPerms.toLong).as("n_perms"), col("n_ge"),
        round((col("n_ge") + 1L).cast("double") / (nPerms + 1), 6).as("p_value"))
  }

  /** Supplier co-supply pairs (C203): the bipartite projection of the
    * (supplier, part) incidence onto suppliers — the top-20 supplier
    * pairs by number of distinct parts both ship. The relational twin of
    * the doc-token co-occurrence joins: one distinct (part, supplier)
    * aggregate, a part-keyed self-join whose expansion is bounded by the
    * per-part supplier-count gate (`maxSupp` caps the quadratic hub-part
    * blowup the same way invertedIndex caps postings — a part shipped by
    * everyone carries no pairing signal anyway), and a TakeOrdered heap
    * for the k-row result. */
  def supplierCopartPairs(lineitem: DataFrame, maxSupp: Int = 50,
                          k: Int = 20): DataFrame = {
    val sp = lineitem.select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
    val gated = sp.groupBy("pk").agg(count(lit(1)).as("n_supp"))
      .filter(col("n_supp") <= maxSupp)
      .select("pk")
    val d = sp.join(gated, Seq("pk"), "left_semi")
    d.select(col("pk"), col("sk").as("s_a"))
      .join(d.select(col("pk"), col("sk").as("s_b")), "pk")
      .filter(col("s_a") < col("s_b"))
      .groupBy("s_a", "s_b").agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("s_a"), col("s_b"))
      .limit(k)
  }

  /** Tukey median polish of the nation × order-year revenue matrix
    * (B227): one row sweep (per-nation median effect) and one column
    * sweep (per-year median of the row-residuals) — the outlier-robust
    * twin of a two-way ANOVA fit, read to ask "which (nation, year)
    * cells still stick out after nation size and macro year are
    * removed". Cell values are exact cents; each median interpolates at
    * worst one halving, so every intermediate is an exact binary
    * fraction and the 2 dp round is a dtype normalizer, not a seam.
    * Scale shape: one corpus-sized aggregate to the calendar×dimension-
    * bounded cell frame; both sweeps are tiny grouped medians. */
  def medianPolish(orders: DataFrame, customer: DataFrame,
                   nation: DataFrame): DataFrame = {
    val cells = orders
      .join(customer.select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "o_custkey")
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), "c_nationkey")
      .select(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("yr"),
        cents(col("o_totalprice")).as("c"))
      .groupBy("nation", "yr").agg(sum(col("c")).as("cents"))
    val rowEff = cells.groupBy("nation")
      .agg(percentile(col("cents"), lit(0.5)).as("row_eff"))
    val r1 = cells.join(broadcast(rowEff), "nation")
      .withColumn("res1", col("cents").cast("double") - col("row_eff"))
    val colEff = r1.groupBy("yr")
      .agg(percentile(col("res1"), lit(0.5)).as("col_eff"))
    r1.join(broadcast(colEff), "yr")
      .select(col("nation"), col("yr"), col("cents"),
        round(col("row_eff"), 2).as("row_eff"),
        round(col("col_eff"), 2).as("col_eff"),
        round(col("res1") - col("col_eff"), 2).as("resid"))
  }

  /** Classical moving-average seasonal decomposition (B221): daily order
    * revenue split into trend + weekly seasonal + residual — the
    * textbook decompose-by-MA pass behind every "is this dip seasonal or
    * real" readout. Trend is the centered 7-day moving average (edge
    * days without a full window drop); the seasonal component is the
    * per-weekday mean of the detrended series; the residual is what
    * neither explains.
    *
    * Numeric discipline: the detrended series is kept in EXACT ×7 cents
    * space (d7 = 7·cents − Σ window cents, a long), so the weekday means
    * divide exact integer sums; trend/seasonal/residual round once at
    * 6 dp off fixed-order expressions. Weekday is epoch-day mod 7 (a
    * stable 7-class key, engine-agnostic — no locale/firstday seam).
    *
    * Scale shape: one groupBy(day) partial-agg collapses the order
    * stream to a calendar-bounded daily frame; the 7-row window and the
    * weekday join run on that tiny frame, so the only corpus-sized work
    * is the first aggregate. */
  def seasonalDecompose(orders: DataFrame): DataFrame = {
    val daily = orders
      // o_orderdate reads as TIMESTAMP_NTZ; with the UTC session TZ the
      // cast is wall-clock identity, matching the oracle's naive epoch
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day_idx"),
        cents(col("o_totalprice")).as("c"))
      .groupBy("day_idx").agg(sum(col("c")).as("cents"))
    val w7 = org.apache.spark.sql.expressions.Window
      .orderBy("day_idx").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("n_win", count(lit(1)).over(w7))
      .withColumn("sum7", sum(col("cents")).over(w7))
      .filter(col("n_win") === 7L)
      .select(col("day_idx"), (col("day_idx") % 7).as("dow"), col("cents"),
        col("sum7"), (col("cents") * 7L - col("sum7")).as("d7"))
    val seasonal = trended.groupBy("dow")
      .agg(sum(col("d7")).as("sd7"), count(lit(1)).as("nd"))
    // components are ~1e8 cents: 6 dp there is sub-ulp (the two engines'
    // round() disagree in the last digit), so round at 2 dp — the 0.005
    // boundary is ~10^5 ulps wide at this magnitude, never a knife edge
    trended.join(broadcast(seasonal), "dow")
      .select(col("day_idx"), col("dow"), col("cents"),
        round(col("sum7").cast("double") / 7.0, 2).as("trend_cents"),
        round(col("sd7").cast("double") / (col("nd") * 7L), 2).as("seasonal_cents"),
        round((col("d7").cast("double")
          - col("sd7").cast("double") / col("nd")) / 7.0, 2).as("resid_cents"))
  }

  /** Ingest-rate spike detector (B243): per (event_type, day), the
    * current event count against an EWMA of the PRIOR days' counts —
    * the anomaly gate an ingestion pipeline puts in front of its
    * downstream consumers (a source that suddenly floods usually means
    * a crawler loop or a replayed feed, and the day it happens is the
    * day dedup costs explode). EWMA weights are α(1−α)^j with α = 1/2
    * over the last 8 PRESENT days, renormalized over the lags that
    * exist — every weight is an exact binary fraction and each term is
    * count·2^(−j), so the weighted sum is EXACT in double at any
    * evaluation order: no smoothing-state recursion, no float seam.
    * The fixed 8-lag unroll keeps the plan static and the oracle a
    * plain lag chain; day gaps are treated as consecutive observations
    * (documented — a calendar-gridded variant would zero-fill).
    * Shape: one partial-agg shuffle to (type, day), then lag windows
    * partitioned per type — day-bounded frames, nothing data-sized in
    * a single partition. */
  def ingestAnomaly(events: DataFrame, spikeRatio: Double = 2.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day_idx")
    val lagged = (1 to 8).foldLeft(daily) { (df, j) =>
      df.withColumn(s"l$j", lag(col("n_events"), j).over(w))
    }
    val num = (1 to 8).map(j =>
      coalesce(col(s"l$j").cast("double"), lit(0.0)) * math.pow(0.5, j))
      .reduce(_ + _)
    val den = (1 to 8).map(j =>
      when(col(s"l$j").isNotNull, math.pow(0.5, j)).otherwise(lit(0.0)))
      .reduce(_ + _)
    lagged
      .withColumn("ewma_prev", when(den > 0, round(num / den, 6)))
      .select(col("event_type"), col("day_idx"), col("n_events"),
        col("ewma_prev"),
        round(col("n_events") / col("ewma_prev"), 6).as("ratio"))
      .withColumn("spike",
        col("ratio").isNotNull && col("ratio") >= spikeRatio)
  }

  /** Theil T index of customer spend (C236): the entropy member of the
    * inequality family — additively DECOMPOSABLE across groups, which
    * Gini (C81) and Lorenz (C151) are not, so it's the one you use when
    * "how much inequality lives within vs between segments" is the next
    * question. T = (1/N)·Σ (x/μ)·ln(x/μ) over per-customer spend; μ is
    * one broadcast aggregate, each term rounds at 9 dp at creation, and
    * the sum is exact ([[Folds.exactSum]]). Zero-spend customers
    * contribute an exact 0 (lim x→0 x·ln x = 0, taken by CASE, not by
    * NaN). */
  def spendTheil(orders: DataFrame): DataFrame = {
    val perCust = orders.groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("spend_cents"))
    val mu = perCust.agg(count(lit(1)).as("n"), sum(col("spend_cents")).as("tot"))
    val terms = perCust.crossJoin(broadcast(mu))
      .select(col("n"),
        when(col("spend_cents") > 0L,
          round((col("spend_cents").cast("double") * col("n") / col("tot"))
            * log(col("spend_cents").cast("double") * col("n") / col("tot")), 9))
          .otherwise(lit(0.0)).as("t"))
    terms.groupBy("n").agg(Folds.exactSum(col("t")).as("s"))
      .select(col("n").as("n_customers"),
        round(col("s") / col("n"), 6).as("theil_t"))
  }

  /** Theil within/between decomposition by market segment (C237): the
    * reason [[spendTheil]] exists — T = Σ s_g·T_g + Σ s_g·ln(μ_g/μ)
    * exactly, so "is spend inequality a segment story or a
    * within-segment story" is one table. Per-segment inner sums are
    * exact, as in [[spendTheil]]; the between terms are
    * segment-bounded one-liners; every ratio is a fixed-order double
    * expression off exact cents. */
  def spendTheilDecomp(orders: DataFrame, customer: DataFrame): DataFrame = {
    val pc = orders.groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("sc"))
      .join(customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("segment")), "o_custkey")
    val segAgg = pc.groupBy("segment")
      .agg(count(lit(1)).as("n_g"), sum(col("sc")).as("tot_g"))
    val tot = segAgg.agg(sum(col("n_g")).as("n"), sum(col("tot_g")).as("tot"))
    val terms = pc.join(broadcast(segAgg), "segment")
      .select(col("segment"),
        when(col("sc") > 0L,
          round((col("sc").cast("double") * col("n_g") / col("tot_g"))
            * log(col("sc").cast("double") * col("n_g") / col("tot_g")), 9))
          .otherwise(lit(0.0)).as("t"))
    val within = terms.groupBy("segment").agg(Folds.exactSum(col("t")).as("s"))
    within.join(broadcast(segAgg), "segment").crossJoin(broadcast(tot))
      .select(col("segment"), col("n_g").as("n_customers"),
        round(col("tot_g").cast("double") / col("tot"), 6).as("spend_share"),
        round(col("s") / col("n_g"), 6).as("theil_within"),
        round((col("tot_g").cast("double") / col("tot"))
          * log((col("tot_g").cast("double") / col("n_g"))
            / (col("tot").cast("double") / col("n"))), 6).as("between_term"))
  }

  /** Inverse-propensity offline policy evaluation (B257): what would a
    * UNIFORM action policy have earned, estimated from logs of the
    * current (empirical) policy — the counterfactual-eval family member
    * beside the experimental (abTtest) and observational (caliperMatch)
    * estimators, usable when you can neither randomize nor match. Each
    * logged event's reward reweights by π(a)/p̂(a) = (1/K)/(n_a/N); the
    * per-arm decomposition is closed-form from exact per-arm counts
    * (Σ_i∈a r_i·w_a = sc_a·N/(K·n_a)), so the whole estimate is one
    * aggregate + a broadcast total — no per-event weighting pass.
    * Degenerate-arm safety: an arm with zero logged events simply has
    * no row (its counterfactual is unidentified — reported by absence,
    * not by a fake 0). */
  def ipsEval(events: DataFrame): DataFrame = {
    val per = events.select(col("event_type"), cents(col("value")).as("c"))
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
    val tot = per.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"))
    per.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n"),
        round(col("n").cast("double") / col("nn"), 6).as("p_logged"),
        round(col("nn").cast("double") / (col("k") * col("n")), 6).as("ips_weight"),
        round(col("sc").cast("double") / col("n") / 100.0, 6).as("logged_mean_dollars"),
        round(col("sc").cast("double") / (col("k") * col("n")) / 100.0, 6)
          .as("ips_term_dollars"))
  }

  /** Doubly-robust offline policy evaluation (B296, Dudík/Langford/Li
    * 2011): the uniform target policy's value estimated by DIRECT MODEL
    * + IPS CORRECTION — the third counterfactual estimator beside
    * [[ipsEval]] (pure reweighting: unbiased, high variance) and a pure
    * direct method (low variance, model-biased); DR stays unbiased if
    * EITHER the reward model or the propensities are right. The split
    * discipline makes the correction non-trivial: the reward model
    * q̂(g, a) (per user-parity context g and arm a) and the logged
    * propensities p̂(a|g) fit on the EVEN-event_id half, the estimator
    * evaluates on the ODD half — in-sample q̂ would make the residual
    * term vanish identically. Eval cells without model support drop
    * (their counterfactual is unidentified — absence, not a fake 0,
    * the ipsEval convention). Everything reduces to the ≤ |g|·|arms|
    * cell frame: exact integer cents sums, q̂/p̂/terms rounded 9 dp,
    * exact cell sums, one global row out — no per-event
    * weighting pass at any scale. */
  def doublyRobustEval(events: DataFrame): DataFrame = {
    val base = events.select(
      (col("user_id") % 2 === 0).cast("long").as("g"),
      col("event_type").as("arm"),
      cents(col("value")).as("c"),
      (col("event_id") % 2 === 0).as("is_model"))
    // model and evalC are |g|·|arms|-bounded cell frames with 4 and 3
    // consumers each — localCheckpoint so the corpus scan + partial agg
    // behind each runs ONCE, not once per consumer
    val model = base.filter(col("is_model"))
      .groupBy("g", "arm").agg(count(lit(1)).as("nm"), sum(col("c")).as("scm"))
      .transform(CacheTracker.pin)
    val mg = model.groupBy("g").agg(sum(col("nm")).as("nmg"))
    val karms = model.select(col("arm")).distinct().agg(count(lit(1)).as("k"))
    val evalC = base.filter(!col("is_model"))
      .groupBy("g", "arm").agg(count(lit(1)).as("ne"), sum(col("c")).as("sce"))
      .join(model, Seq("g", "arm"))
      .join(mg, "g")
      .transform(CacheTracker.pin)
    val qhat = round(col("scm").cast("double") / col("nm"), 9)
    val phat = round(col("nm").cast("double") / col("nmg"), 9)
    val nEvalG = evalC.groupBy("g").agg(sum(col("ne")).as("neg"))
    // per-context direct-method mass: n_eval_g · (Σ_a q̂(g, a))/K
    val dmG = model.join(nEvalG, "g").crossJoin(broadcast(karms))
      .select(col("g"), col("neg"), col("k"), qhat.as("q"))
      .groupBy("g", "neg", "k")
      .agg(Folds.exactSum(col("q")).as("sum_q"))
      .select(col("g"), round(col("neg") * col("sum_q") / col("k"), 9).as("dm_g"))
    val cellTerms = evalC.crossJoin(broadcast(karms))
      .select(
        round((col("sce").cast("double") - col("ne") * qhat)
          / (col("k") * phat), 9).as("corr"),
        round(col("sce").cast("double") / (col("k") * phat), 9).as("ips_t"))
    val gTot = dmG.agg(Folds.exactSum(col("dm_g")).as("dm_sum"))
    val cTot = cellTerms.agg(Folds.exactSum(col("corr")).as("corr_sum"),
      Folds.exactSum(col("ips_t")).as("ips_sum"))
    val nE = evalC.agg(coalesce(sum(col("ne")), lit(0L)).as("n_eval"))
    val nM = base.filter(col("is_model")).agg(count(lit(1)).as("n_model"))
    nE.crossJoin(broadcast(nM)).crossJoin(broadcast(karms))
      .crossJoin(broadcast(gTot)).crossJoin(broadcast(cTot))
      .select(col("n_model"), col("n_eval"), col("k").as("k_arms"),
        round(when(col("n_eval") > 0,
          col("dm_sum") / col("n_eval") / 100.0), 6).as("dm_dollars"),
        round(when(col("n_eval") > 0,
          col("ips_sum") / col("n_eval") / 100.0), 6).as("ips_dollars"),
        round(when(col("n_eval") > 0,
          (col("dm_sum") + col("corr_sum")) / col("n_eval") / 100.0), 6)
          .as("dr_dollars"))
  }

  /** Shard rebalance plan (C234): proportional binning of the per-source
    * shards into `nTarget` output files by cumulative size — the
    * compaction/rebalance planner a table-maintenance job runs off the
    * B144 manifest before rewriting small files. Each shard's target is
    * floor(cum_before · nTarget / total) (order-deterministic, sums to
    * a contiguous assignment), computed off [[graft.operators.Ranks]]'
    * two-pass range-partitioned cumulative sum, so the plan scales to
    * any shard count without a single-task window. The per-target
    * balance ratio (1.0 = ideal) is the skew readout that decides
    * whether proportional binning suffices or a bin-packing pass is
    * worth it. */
  def shardRebalancePlan(docs: DataFrame, nTarget: Int = 4): DataFrame = {
    val sh = docs.groupBy("source").agg(sum(col("n_chars")).as("bytes"))
    val swept = Ranks.withGlobalCumSum(sh, "bytes", "cum", "total",
      Seq(col("source")))
    swept
      .select(col("source"), col("bytes"), col("total"),
        least(expr(s"((cum - bytes) * $nTarget) div total"),
          lit(nTarget - 1L)).as("target_file"))
      .groupBy("target_file")
      .agg(count(lit(1)).as("n_shards"), sum(col("bytes")).as("n_bytes"),
        max(col("total")).as("total"))
      .select(col("target_file"), col("n_shards"), col("n_bytes"),
        round(col("n_bytes").cast("double") * nTarget / col("total"), 6)
          .as("balance_ratio"))
  }

  /** Maximum drawdown of daily revenue (C226): the largest
    * peak-to-trough loss of the cumulative daily series — the risk
    * statistic every revenue/financial dashboard carries next to the
    * trend line ([[mannKendall]] says whether it trends; this says how
    * bad the worst slide was). Running peak = max(cents) over prior
    * days, drawdown_d = (peak − c_d)/peak; the reported row is the
    * worst drawdown (ties → earliest day), with the peak day
    * back-resolved as the EARLIEST day at or before the trough that
    * carries the peak value. Everything is exact integer cents off the
    * calendar-bounded daily frame (the mann_kendall discipline: the
    * ordered window runs over ≤ days rows, never data-sized), with one
    * rounded double division at the end. */
  def revenueDrawdown(orders: DataFrame): DataFrame = {
    val daily = orders
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day_idx"),
        cents(col("o_totalprice")).as("c"))
      .groupBy("day_idx").agg(sum(col("c")).as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("day_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val dd = daily
      .withColumn("peak", max(col("cents")).over(w))
      .withColumn("dd_num", col("peak") - col("cents"))
    // worst drawdown as exact-integer argmax: maximize dd_num/peak ⇔
    // lexicographic on the cross-multiplied longs is wrong in general,
    // so order on the double ratio but break ties on (day) — the ratio
    // is one fixed-order divide of exact longs, identical on both engines
    val trough = dd
      .select(col("day_idx").as("trough_day"), col("peak").as("peak_cents"),
        col("cents").as("trough_cents"),
        (col("dd_num").cast("double") / col("peak")).as("dd"))
      .orderBy(col("dd").desc, col("trough_day").asc)
      .limit(1)
    trough
      .join(daily.select(col("day_idx"), col("cents").as("pc")),
        col("pc") === col("peak_cents") && col("day_idx") <= col("trough_day"))
      .groupBy("trough_day", "peak_cents", "trough_cents", "dd")
      .agg(min(col("day_idx")).as("peak_day"))
      .select(col("peak_day"), col("trough_day"), col("peak_cents"),
        col("trough_cents"), round(col("dd"), 6).as("max_drawdown"))
  }

  /** Hampel filter over daily revenue (C227): per day, the median and
    * MAD of the ±`halfWin`-day neighborhood; a day whose deviation
    * exceeds 3·1.4826·MAD is an outlier and is repaired to the window
    * median — the standard robust spike cleaner telemetry pipelines run
    * before any trend fit (unlike [[ingestAnomaly]]'s one-sided EWMA
    * gate, this is symmetric, uses future context, and repairs).
    *
    * Exactness: medians of ≤(2·halfWin+1) exact cent values are
    * computed positionally on the sorted list — ×2 units for the value
    * median (even windows average two middles) and ×4 for the MAD — so
    * every median is an exact binary fraction and the single outlier
    * test is one fixed-order double compare both engines evaluate
    * identically. Scale: each day contributes to its ≤(2·halfWin+1)
    * neighbors via a bounded explode (the dau_mau trick — no range
    * join, no window over a data-sized frame), and the per-day state is
    * a ≤(2·halfWin+1)-element list: calendar-bounded everywhere. */
  def hampelFilter(orders: DataFrame, halfWin: Int = 3): DataFrame = {
    val daily = orders
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day_idx"),
        cents(col("o_totalprice")).as("c"))
      .groupBy("day_idx").agg(sum(col("c")).as("cents"))
    val contrib = daily
      .select(col("cents").as("cj"),
        explode(sequence(col("day_idx") - halfWin, col("day_idx") + halfWin))
          .as("day_idx"))
    val wins = contrib
      .join(daily.select(col("day_idx")), Seq("day_idx"), "left_semi")
      .groupBy("day_idx")
      .agg(sort_array(collect_list(col("cj"))).as("vals"))
    // positional medians in scaled-integer space: med2 = 2·median of
    // vals, dev2_j = |2·c_j − med2| (exact long), mad4 = 2·median of
    // the dev2 list = 4·MAD
    def med2Of(vals: Column, n: Column): Column =
      when(n % 2 === 1, lit(2L) * element_at(vals, ((n + 1) / 2).cast("int")))
        .otherwise(element_at(vals, (n / 2).cast("int"))
          + element_at(vals, (n / 2 + 1).cast("int")))
    val scored = wins
      .join(daily, "day_idx")
      .withColumn("n", size(col("vals")))
      .withColumn("med2", med2Of(col("vals"), col("n")))
      .withColumn("dev2s",
        sort_array(transform(col("vals"), v => abs(lit(2L) * v - col("med2")))))
      .withColumn("mad4", med2Of(col("dev2s"), col("n")))
      .withColumn("is_outlier",
        lit(2.0) * abs(lit(2L) * col("cents") - col("med2")).cast("double")
          > lit(3.0 * 1.4826) * col("mad4").cast("double"))
    scored.select(col("day_idx"), col("cents"),
      (col("med2").cast("double") / 2.0).as("med_cents"),
      (col("mad4").cast("double") / 4.0).as("mad_cents"),
      col("is_outlier"),
      when(col("is_outlier"), col("med2").cast("double") / 2.0)
        .otherwise(col("cents").cast("double")).as("repaired_cents"))
  }

  /** Two-proportion power analysis off the observed experiment (C228):
    * given the running A/B assignment (user parity, the [[abTtest]] /
    * permutationTest convention) and the observed conversion rates,
    * the required users PER ARM to detect the observed delta at
    * α = 0.05 (two-sided) with 80% power —
    * n = (z_{α/2}·√(2p̄(1−p̄)) + z_β·√(p₁(1−p₁)+p₂(1−p₂)))² / δ².
    * The "how much longer must this experiment run" readout every
    * experimentation platform publishes next to the p-value.
    * Conversion counts are exact longs; the formula is one fixed-order
    * double expression with literal z constants; δ = 0 yields NULL
    * (infinite n), not a crash. */
  def powerAnalysis(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"))
      .select((col("user_id") % 2 === 0).as("is_a"), col("x"))
    val m = perUser.agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("is_a"), col("x")).otherwise(0L)).as("c_a"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("is_a"), col("x")).otherwise(0L)).as("c_b"))
    val p1 = col("c_a").cast("double") / col("n_a")
    val p2 = col("c_b").cast("double") / col("n_b")
    val pBar = (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))
    val delta = abs(p2 - p1)
    val zA = lit(1.959964) // z_{0.025}
    val zB = lit(0.841621) // z_{0.20}
    // squared by MULTIPLICATION, not pow(x, 2.0): libm pow need not be
    // correctly rounded, so the two engines could drift a ulp there
    val zSum = zA * sqrt(lit(2.0) * pBar * (lit(1.0) - pBar)) +
      zB * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    val nReq = (zSum * zSum) / (delta * delta)
    m.select(col("n_a"), col("n_b"),
      round(p1, 6).as("p_a"), round(p2, 6).as("p_b"),
      round(delta, 6).as("delta"),
      when(delta > 0.0, ceil(nReq).cast("long")).as("n_per_arm_req"))
  }

  /** Nearest-neighbor caliper matching (C229): the observational-causal
    * estimator the A/B family (abTtest/cuped/diffInDiff) cannot give you
    * when assignment wasn't randomized. Treated users (odd parity, the
    * complement of the experiment convention) match with replacement to
    * the control user nearest in PRE-period spend, within a `caliper`
    * (cents); ATT = mean over matched pairs of the POST-period spend
    * difference. Pre/post split at `splitDays` after the first event
    * day; ties in match distance break on the smaller control id, so
    * the matching is total and deterministic.
    *
    * Scale posture: candidate pairs materialize ONLY through
    * caliper-bucket co-location (bucket = pre div caliper, each treated
    * probes its own and both adjacent buckets — a bounded ×3 explode,
    * the spatial-grid join idiom), never a treated×control cross join;
    * per-treated argmin is min(struct(dist, id)), a map-side-combining
    * aggregate. Everything is exact integer cents until the final
    * rounded ATT divide. */
  def caliperMatch(events: DataFrame, caliper: Long = 20000L,
                   splitDays: Int = 15): DataFrame = {
    val base = events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_idx"),
        cents(col("value")).as("c"))
    val d0 = base.agg(min(col("day_idx")).as("d0"))
    val spends = base.crossJoin(broadcast(d0))
      .groupBy("user_id")
      .agg(sum(when(col("day_idx") < col("d0") + splitDays, col("c"))
          .otherwise(0L)).as("pre"),
        sum(when(col("day_idx") >= col("d0") + splitDays, col("c"))
          .otherwise(0L)).as("post"))
    val treated = spends.filter(col("user_id") % 2 === 1)
      .select(col("user_id").as("t_id"), col("pre").as("t_pre"),
        col("post").as("t_post"),
        // floor(), not double-divide + cast: cast truncates toward zero,
        // which diverges from the oracle's integral floor division (`//`)
        // the moment a pre-period spend is negative (refund-heavy user)
        explode(array(floor(col("pre") / caliper).cast("long") - 1,
          floor(col("pre") / caliper).cast("long"),
          floor(col("pre") / caliper).cast("long") + 1)).as("bucket"))
    val control = spends.filter(col("user_id") % 2 === 0)
      .select(col("user_id").as("c_id"), col("pre").as("c_pre"),
        col("post").as("c_post"),
        floor(col("pre") / caliper).cast("long").as("bucket"))
    val matched = treated.join(control, "bucket")
      .filter(abs(col("t_pre") - col("c_pre")) <= caliper)
      .groupBy("t_id")
      .agg(min(struct(abs(col("t_pre") - col("c_pre")).as("dist"),
        col("c_id"), col("t_post"), col("c_post"))).as("m"))
      .select(col("t_id"), col("m.dist").as("dist"),
        (col("m.t_post") - col("m.c_post")).as("diff"))
    val nT = spends.filter(col("user_id") % 2 === 1)
      .agg(count(lit(1)).as("n_treated"))
    matched
      .agg(count(lit(1)).as("n_matched"),
        sum(col("diff")).as("sum_diff"),
        sum(col("dist")).as("sum_dist"))
      .crossJoin(broadcast(nT))
      .select(col("n_treated"), col("n_matched"),
        round(col("sum_diff").cast("double") / col("n_matched") / 100.0, 6)
          .as("att_dollars"),
        round(col("sum_dist").cast("double") / col("n_matched") / 100.0, 6)
          .as("avg_match_dist_dollars"))
  }

  /** DISCRETE per-type value percentiles (C239): the value AT global rank
    * ⌈p·n⌉ under the total (cents, event_id) order — the scale-safe exact
    * alternative to [[valuePercentilesByType]]'s interpolating `percentile`
    * aggregate, which buffers each group's values on one executor (the r16
    * scale guard). Ranks come from Ranks' grouped two-pass range-partitioned
    * machinery, so no task ever holds more than a range slice of one type;
    * the percentile readout is a conditional aggregate on three
    * integer-exact rank targets (⌈n/2⌉, ⌈9n/10⌉, ⌈99n/100⌉). Discrete
    * (a value that OCCURRED) rather than interpolated — the honest
    * distinction stated in the name. */
  def valuePercentilesDisc(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"), col("event_id"),
      cents(col("value")).as("c"), lit(1L).as("one"))
    val ranked = Ranks.withGroupedRankCumSum(e, Seq("event_type"), "one",
      "rnk", "_cum", "n", Seq(col("c"), col("event_id")))
    ranked.groupBy("event_type")
      .agg(
        max(col("n")).as("n_events"),
        min(when(col("rnk") === expr("(n + 1) div 2"), col("c"))).as("p50_cents"),
        min(when(col("rnk") === expr("(9 * n + 9) div 10"), col("c"))).as("p90_cents"),
        min(when(col("rnk") === expr("(99 * n + 99) div 100"), col("c"))).as("p99_cents"))
  }

  /** Incremental view maintenance for a JOIN view (C240): the delta-join
    * algebra Δ(A ⋈ B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, demonstrated end-to-end —
    * orders and customers each split into a standing 80/70% and a delta
    * 20/30% slice, the per-nation revenue view computed as the UNION OF
    * THE FOUR DELTA TERMS and pinned (by the oracle's plain join+agg)
    * value-identical to recomputing the view from scratch. The C116
    * aggregate-IVM row's join-sided sibling: at 100 TB the three
    * delta-sided terms touch only delta-sized frames; A₀⋈B₀ is the
    * standing view a real pipeline already holds. Customer slices
    * broadcast (dimension-sized); the fact side never re-shuffles per
    * term beyond its one hash partitioning. */
  def ivmJoin(orders: DataFrame, customer: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_custkey"),
      cents(col("o_totalprice")).as("pc"))
    val c = customer.select(col("c_custkey"), col("c_nationkey"))
    val oStand = o.filter(col("o_orderkey") % 10 < 8)
    val oDelta = o.filter(col("o_orderkey") % 10 >= 8)
    val cStand = c.filter(col("c_custkey") % 10 < 7)
    val cDelta = c.filter(col("c_custkey") % 10 >= 7)
    def term(a: DataFrame, b: DataFrame): DataFrame =
      a.join(broadcast(b), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("pc"))
    term(oStand, cStand)
      .unionByName(term(oStand, cDelta))
      .unionByName(term(oDelta, cStand))
      .unionByName(term(oDelta, cDelta))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"), sum(col("pc")).as("revenue_cents"))
  }

  /** ABC revenue classification of parts (C247, the inventory-analytics
    * Pareto cut): parts ranked by lineitem revenue descending, class A =
    * the head carrying ≤ 80% of cumulative revenue, B to 95%, C the
    * tail — per-class part counts, revenue mass and share. Rank +
    * cumulative revenue ride ONE two-pass range-partitioned pass
    * (Ranks.withGlobalRankCumSum — no single-task global sort at any
    * part count); class boundaries compare exact integer cents in
    * decimal(38,0) (cum·100 ≤ total·80 — a bare long product overflows
    * at 100 TB revenue). */
  def ordersAbc(lineitem: DataFrame): DataFrame = {
    val perPart = lineitem
      .select(col("l_partkey"), cents(col("l_extendedprice")).as("rc"))
      .groupBy("l_partkey").agg(sum(col("rc")).as("revenue_cents"))
    val swept = Ranks.withGlobalRankCumSum(perPart, "revenue_cents",
      "rnk", "cum", "total",
      Seq(col("revenue_cents").desc, col("l_partkey")))
    val cumD = col("cum").cast("decimal(38,0)")
    val totD = col("total").cast("decimal(38,0)")
    swept
      .withColumn("abc_class",
        when(cumD * 100 <= totD * 80, "A")
          .when(cumD * 100 <= totD * 95, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("revenue_cents")).as("revenue_cents"),
        max(col("total")).as("t"))
      .select(col("abc_class"), col("n_parts"), col("revenue_cents"),
        round(col("revenue_cents").cast("double") / col("t"), 6)
          .as("revenue_share"))
  }

  /** Higher-order price moments per market segment (C241): skewness and
    * excess kurtosis of order totals from EXACT integer power sums — Σc,
    * Σc², Σc³, Σc⁴ ride as decimal(38,0) (c ≤ ~5e7 cents ⇒ Σc⁴ ≤ ~1e37,
    * inside 38 digits; DuckDB mirrors in HUGEINT), so the one double
    * conversion happens on exact integers and every emitted statistic is
    * an O(1) ratio (the dispersion_index discipline — never a 6-dp round
    * of a 1e30 magnitude). Central moments expand algebraically from the
    * raw sums in ONE mirrored expression per statistic. One broadcast of
    * customer, one partial-agg shuffle onto the 5-segment key. */
  def priceMoments(orders: DataFrame, customer: DataFrame): DataFrame = {
    val cd = col("c").cast("decimal(38,0)")
    val m = orders.select(col("o_custkey"), cents(col("o_totalprice")).as("c"))
      .join(broadcast(customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment"))), "o_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1"),
        sum(cd * cd).as("s2"),
        sum(cd * cd * cd).as("s3"),
        sum(cd * cd * cd * cd).as("s4"))
    val n = col("n").cast("double")
    val mu = col("s1").cast("double") / n
    val m2 = col("s2").cast("double") / n - mu * mu
    val m3 = (col("s3").cast("double") / n - lit(3.0) * mu * (col("s2").cast("double") / n)) +
      lit(2.0) * mu * mu * mu
    val m4 = ((col("s4").cast("double") / n - lit(4.0) * mu * (col("s3").cast("double") / n)) +
      lit(6.0) * mu * mu * (col("s2").cast("double") / n)) - lit(3.0) * mu * mu * mu * mu
    m.select(col("c_mktsegment"), col("n").as("n_orders"),
      round(mu / 100.0, 6).as("mean_dollars"),
      round(m3 / sqrt(m2 * m2 * m2), 6).as("skewness"),
      round(m4 / (m2 * m2) - lit(3.0), 6).as("excess_kurtosis"))
  }
}
