package graft.operators

import graft.CacheTracker

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of the events stream (C5): a new session
  * starts when a user's inter-event gap exceeds `gapMinutes`.
  *
  * Two equivalent implementations:
  *  - [[byLag]]: lag + running conditional sum — classic window-function
  *    form, exactly reproducible in the DuckDB oracle;
  *  - [[bySessionWindow]]: Spark's native session_window, which also runs
  *    under Structured Streaming with watermark-bounded state.
  *
  * Scale: one shuffle on user_id; windows sort within partition. Skewed
  * power-users are bounded by per-user event counts, and AQE handles
  * stragglers.
  */
object Sessionize {

  /** (user_id, session_id, session_start_us, session_end_us, n_events). */
  def byLag(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .withColumn("new_session",
        // strict > : an event at exactly prev + gap stays in the session.
        // Verified against session_window, which also merges at the exact
        // boundary (its session end is inclusive for the merge test).
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(
        min(col("us")).as("session_start_us"),
        max(col("us")).as("session_end_us"),
        count(lit(1)).as("n_events"))
  }

  /** SCD2-style validity intervals (C91): collapse each user's
    * event-type timeline into maximal runs of consecutive identical
    * types, one row per run with `[valid_from_us, valid_to_us)`
    * boundaries — the gaps-and-islands reshape that builds a type-2
    * slowly-changing dimension from a change stream. `valid_to_us` of
    * the open (latest) run is the classic end-of-time sentinel rather
    * than NULL, and `is_current` flags it.
    *
    * Scale: ONE shuffle on user_id serves the whole pipeline (verified,
    * PLAN_AUDIT) — hashpartitioning(user_id) already clusters the
    * (user, run, type) run-collapse grouping since run boundaries never
    * cross users, so both windows and the aggregation share the single
    * exchange and its sort. Per-user row counts bound the window sorts,
    * as in [[byLag]]. */
  def scd2Intervals(events: DataFrame): DataFrame = {
    val endOfTime = 253402300799000000L // 9999-12-31T23:59:59Z in micros
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val byRun = Window.partitionBy("user_id").orderBy(col("run_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      // NULL lag (first event) compares null === x -> null -> otherwise 1:
      // every user's first event opens a run on both engines
      .withColumn("changed",
        when(lag(col("event_type"), 1).over(order) === col("event_type"), 0L)
          .otherwise(1L))
      .withColumn("run_id",
        sum(col("changed")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "run_id", "event_type")
      .agg(min(col("us")).as("valid_from_us"), count(lit(1)).as("n_events"))
      .withColumn("valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(byRun), lit(endOfTime)))
      .withColumn("is_current", col("valid_to_us") === endOfTime)
      .select("user_id", "run_id", "event_type", "valid_from_us",
        "valid_to_us", "n_events", "is_current")
  }

  /** Window-bounded event dedup (C48): drop repeat (user, event_type)
    * events arriving within `windowMinutes` of the previously KEPT event
    * of that type — client-side retry / double-fire suppression. Kept-
    * event semantics would need a running scan; the standard declarative
    * relaxation (also what dropDuplicatesWithinWatermark approximates)
    * suppresses an event within `windowMinutes` of its immediate
    * predecessor, which is identical whenever duplicates arrive in
    * bursts. One shuffle on (user_id, event_type); the lag window sorts
    * within partition. Gap is -1 for each first event per key so the
    * output carries no NULLs. */
  def dedupEvents(events: DataFrame, windowMinutes: Int = 30): DataFrame = {
    val winUs = windowMinutes * 60L * 1000000L
    val order = Window.partitionBy("user_id", "event_type")
      .orderBy(col("us"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .filter(col("prev_us").isNull || col("us") - col("prev_us") > winUs)
      .select(col("event_id"), col("user_id"), col("event_type"), col("us"),
        coalesce(col("us") - col("prev_us"), lit(-1L)).as("gap_us"))
  }

  /** Same sessions via the built-in session_window (streaming-capable). */
  def bySessionWindow(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Session-size and session-duration histogram (C69): the engagement
    * distribution ("how long are sessions") computed ON TOP of [[byLag]]
    * — sessions reduce to one row each before this aggregate, so the
    * histogram is a trivial second shuffle over already-reduced keys.
    * Duration buckets are integer minutes (exact microsecond division). */
  def sessionHistogram(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    byLag(events, gapMinutes)
      .select(col("n_events"),
        ((col("session_end_us") - col("session_start_us")) / lit(60000000L))
          .cast("long").as("duration_min"))
      .groupBy("n_events", "duration_min")
      .agg(count(lit(1)).as("n_sessions"))

  /** Ordered funnel analysis (C64): per user, the first view, the first
    * click AT OR AFTER that view, and the first purchase at or after
    * that click — the strictly-sequenced conversion funnel (a click
    * before any view does not count). Each stage is one conditional-min
    * aggregate over the type-filtered stream joined against the previous
    * stage's (already per-user-reduced) frame, so the fan-out is three
    * filtered passes and three per-user-key shuffles — never a self-join
    * of the raw stream against itself. Missing stages surface as -1
    * (stage column gives the funnel depth reached). */
  def funnel(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("view_us"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") >= col("view_us"))
      .groupBy("user_id").agg(min(col("us")).as("click_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") >= col("click_us"))
      .groupBy("user_id").agg(min(col("us")).as("purchase_us"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_us"),
        coalesce(col("click_us"), lit(-1L)).as("click_us"),
        coalesce(col("purchase_us"), lit(-1L)).as("purchase_us"),
        when(col("purchase_us").isNotNull, 3L)
          .when(col("click_us").isNotNull, 2L).otherwise(1L).as("stage"))
  }

  /** Session entry-path distribution (C76): how sessions BEGIN — the
    * ordered first-k event types per [[byLag]] session joined into a
    * path string ("view>click>purchase"), counted across the corpus.
    * The product-analytics "top paths" report, without a sequence
    * self-join: the same lag-sessionization pass (one shuffle on
    * user_id), a row_number gate to the first k events, and a
    * sorted-struct fold so the path string is deterministic at any
    * partitioning. The final count shuffles path-distinct rows only. */
  def sessionPaths(events: DataFrame, gapMinutes: Int = 30, k: Int = 3): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val sessioned = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
    val so = Window.partitionBy("user_id", "session_id")
      .orderBy(col("us"), col("event_id"))
    sessioned
      .withColumn("rn", row_number().over(so))
      .filter(col("rn") <= k)
      .groupBy("user_id", "session_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          p => p.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
  }

  /** Sliding-window funnel (C101, the ClickHouse `windowFunnel` shape):
    * for every view event as an anchor, how deep does the ordered chain
    * view → click → purchase get with every step inside `windowUs` of
    * the ANCHOR (not of the previous step)? Per user, the maximum level
    * over all anchors plus the anchor count — the time-boxed funnel that
    * [[funnel]]'s unbounded first-touch chain cannot express.
    *
    * Scale: both chain steps ride [[Relational.rangeJoin]]'s binned
    * (key, window-bin) equi-join — a raw `BETWEEN` residual would plan
    * as per-user all-pairs and blow up on a bot key — and each step
    * reduces immediately to min-per-anchor, so candidates never
    * accumulate. Chain steps are strictly increasing in time (`>`), so
    * simultaneous events never satisfy two funnel stages. */
  def windowFunnel(events: DataFrame,
                   windowUs: Long = 6L * 3600L * 1000000L): DataFrame = {
    val e = events.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("anchor_id"), col("user_id"),
        col("us").as("view_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("click_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"))
    // click strictly after the anchor, within the anchor's window
    val firstClick = Relational.rangeJoin(clicks, views, "user_id",
        "click_us", "view_us", windowUs)
      .filter(col("click_us") > col("view_us"))
      .groupBy("anchor_id", "user_id", "view_us")
      .agg(min(col("click_us")).as("first_click_us"))
    // purchase strictly after that first click, still inside the window
    val firstPurchase = Relational.rangeJoin(purchases, firstClick, "user_id",
        "p_us", "view_us", windowUs)
      .filter(col("p_us") > col("first_click_us"))
      .groupBy("anchor_id")
      .agg(min(col("p_us")).as("first_p_us"))
    views
      .join(firstClick.select("anchor_id", "first_click_us"), Seq("anchor_id"), "left")
      .join(firstPurchase, Seq("anchor_id"), "left")
      .select(col("user_id"),
        when(col("first_p_us").isNotNull, 3L)
          .when(col("first_click_us").isNotNull, 2L).otherwise(1L).as("lvl"))
      .groupBy("user_id")
      .agg(max(col("lvl")).as("level"), count(lit(1)).as("n_anchors"))
  }

  /** Incremental SCD2 maintenance (C111): merge a standing interval
    * table ([[scd2Intervals]] over events before `splitUs`) with a new
    * event batch (at-or-after `splitUs`, i.e. strictly later in event
    * time) WITHOUT re-reading the historical events — the warehouse
    * dimension-merge step. Per user: the open (is_current) interval
    * either ABSORBS the batch's first run (same state: extend counts,
    * keep valid_from) or CLOSES at the batch's first event; later batch
    * runs append with run_ids continuing the store's numbering. The
    * correctness claim is exact: merged output ≡ full recompute over
    * all events (the oracle IS the recompute), hash-for-hash.
    *
    * Scale: the store contributes one broadcast-shaped current-row
    * frame per user plus untouched rows; only the batch is windowed.
    * Nothing rescans history. */
  def scd2Merge(events: DataFrame,
                splitUs: Long = 1706054400000000L): DataFrame = {
    val old = events.filter(unix_micros(col("ts")) < splitUs)
    val batch = events.filter(unix_micros(col("ts")) >= splitUs)
    val store = scd2Intervals(old)
    val bruns = scd2Intervals(batch)
    val curX = store.filter(col("is_current"))
      .select(col("user_id"), col("run_id").as("r0"),
        col("event_type").as("cur_type"),
        col("valid_from_us").as("cur_from"), col("n_events").as("cur_n"))
    val meta = bruns.filter(col("run_id") === 1)
      .select(col("user_id"), col("event_type").as("first_type"),
        col("valid_from_us").as("first_from"))
      .join(curX, Seq("user_id"), "left")
      .select(col("user_id"), col("first_from"),
        coalesce(col("r0"), lit(0L)).as("r0"),
        (col("cur_type").isNotNull && col("first_type") === col("cur_type"))
          .as("absorbed"),
        col("cur_from"), coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val fromBatch = bruns.join(meta, Seq("user_id"))
      .select(col("user_id"),
        (col("run_id") +
          when(col("absorbed"), col("r0") - 1).otherwise(col("r0")))
          .as("run_id"),
        col("event_type"),
        when(col("absorbed") && col("run_id") === 1, col("cur_from"))
          .otherwise(col("valid_from_us")).as("valid_from_us"),
        col("valid_to_us"),
        (col("n_events") +
          when(col("absorbed") && col("run_id") === 1, col("cur_n"))
            .otherwise(lit(0L))).as("n_events"),
        col("is_current"))
    val fromStore = store
      .join(meta.select(col("user_id"), col("absorbed"), col("first_from")),
        Seq("user_id"), "left")
      .filter(!(col("is_current") && coalesce(col("absorbed"), lit(false))))
      .select(col("user_id"), col("run_id"), col("event_type"),
        col("valid_from_us"),
        when(col("is_current") && col("first_from").isNotNull, col("first_from"))
          .otherwise(col("valid_to_us")).as("valid_to_us"),
        col("n_events"),
        (col("is_current") && col("first_from").isNull).as("is_current"))
    fromStore.unionByName(fromBatch)
  }

  /** View→purchase conversion latency distribution (C110): per
    * converting user, seconds from their FIRST view to their first
    * purchase at-or-after it, summarized into exact interpolated
    * percentiles — the time-to-convert report next to [[funnel]]'s
    * stage counts. Two conditional-min aggregations (one shuffle each)
    * reduce to a user-bounded latency frame; the single-row percentile
    * aggregate is the only global state. */
  def conversionLatency(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("view_us"))
    val lat = e.filter(col("event_type") === "purchase")
      .join(v, "user_id")
      .filter(col("us") >= col("view_us"))
      .groupBy("user_id", "view_us").agg(min(col("us")).as("p_us"))
      .select(expr("(p_us - view_us) div 1000000").as("lat_s"))
    lat.agg(count(lit(1)).as("n_converted"),
      round(percentile(col("lat_s"), lit(0.25)), 4).as("p25_s"),
      round(percentile(col("lat_s"), lit(0.5)), 4).as("p50_s"),
      round(percentile(col("lat_s"), lit(0.75)), 4).as("p75_s"),
      round(percentile(col("lat_s"), lit(0.9)), 4).as("p90_s"))
  }

  /** Attribution-window sensitivity sweep (C153): how many first-view →
    * first-purchase conversions survive at 1 h / 6 h / 24 h attribution
    * windows, against the viewer base — the sweep that shows whether a
    * reported conversion rate is real behavior or an artifact of the
    * window choice (the same sweep-not-point discipline as
    * dedup_threshold_sweep). The latency frame is one row per
    * converting user ([[conversionLatency]]'s shape); the three windows
    * are literal rows, so the sweep is conditional sums in ONE
    * aggregate, unpivoted to fixed-arity rows. */
  def attributionWindowSweep(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("view_us"))
    val lat = e.filter(col("event_type") === "purchase")
      .join(v, "user_id")
      .filter(col("us") >= col("view_us"))
      .groupBy("user_id", "view_us").agg(min(col("us")).as("p_us"))
      .select(expr("(p_us - view_us) div 1000000").as("lat_s"))
    val nv = v.agg(count(lit(1)).as("n_viewers"))
    val counts = lat.agg(
      sum(when(col("lat_s") <= 3600L, 1L).otherwise(0L)).as("w1"),
      sum(when(col("lat_s") <= 21600L, 1L).otherwise(0L)).as("w6"),
      sum(when(col("lat_s") <= 86400L, 1L).otherwise(0L)).as("w24"))
    counts.crossJoin(broadcast(nv))
      .select(col("n_viewers"),
        explode(array(
          struct(lit(3600L).as("window_s"), coalesce(col("w1"), lit(0L)).as("n_converted")),
          struct(lit(21600L).as("window_s"), coalesce(col("w6"), lit(0L)).as("n_converted")),
          struct(lit(86400L).as("window_s"), coalesce(col("w24"), lit(0L)).as("n_converted"))))
          .as("s"))
      .select(col("s.window_s").as("window_s"), col("n_viewers"),
        col("s.n_converted").as("n_converted"),
        round(when(col("n_viewers") > 0,
          col("s.n_converted").cast("double") / col("n_viewers"))
          .otherwise(lit(0.0)), 6).as("conversion_rate"))
  }

  /** Frequent 3-step paths within sessions (C167): every sliding
    * 3-gram of event types inside a session, counted with support
    * share — the sequential-pattern-mining readout between
    * [[transitionPredict]]'s 1-step matrix and session_paths' full
    * strings (full paths fragment into the long tail; 3-grams
    * aggregate the recurring motifs). One lag/lead window pass; the
    * result frame is event-type³-bounded. */
  def frequentPaths3(events: DataFrame, gapMinutes: Int = 30,
                     minCount: Long = 1L): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val sess = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        order.rowsBetween(Window.unboundedPreceding, 0)))
    val sOrder = Window.partitionBy("user_id", "session_id")
      .orderBy(col("us"), col("event_id"))
    val grams = sess
      .withColumn("t1", lead(col("event_type"), 1).over(sOrder))
      .withColumn("t2", lead(col("event_type"), 2).over(sOrder))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t1"), col("t2"))
        .as("path3"))
    val total = grams.agg(count(lit(1)).as("n_total"))
    grams.groupBy("path3").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .crossJoin(broadcast(total))
      .select(col("path3"), col("n"),
        round(col("n").cast("double") / col("n_total"), 6).as("support"))
  }

  /** Adjacent-transition latency quantiles (C165): p50/p90 seconds for
    * each (from_type → to_type) ADJACENT pair in a user's stream — the
    * dwell-time profile [[transitionPredict]]'s counts can't show
    * (click→purchase in 40 s median is a working funnel; 2 h is
    * abandonment-and-return). One per-user lag window, then exact
    * interpolated percentiles per type²-bounded group. */
  def transitionLatency(events: DataFrame): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(order))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type").as("from_type"),
        col("event_type").as("to_type"),
        expr("(us - prev_us) div 1000000").as("gap_s"))
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"),
        round(percentile(col("gap_s"), lit(0.5)), 4).as("p50_s"),
        round(percentile(col("gap_s"), lit(0.9)), 4).as("p90_s"))
  }

  /** Event-type co-occurrence within sessions (C162): [[Relational
    * .basketPairs]]' association rules run with SESSIONS as the baskets
    * — which behaviours travel together inside one visit (error∧click
    * lift ≫ 1 reads as rage-clicking; signup∧purchase as activation).
    * Support, confidence and lift off exact counts over distinct
    * (session, type) incidences; the per-session self-join is bounded
    * by the event-type universe after the distinct, so pair cost never
    * tracks raw event volume. One lag-window shuffle + one pair
    * shuffle. */
  def sessionEventPairs(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val sess = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        order.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("user_id"), col("session_id"), col("event_type")).distinct()
    val n = sess.select("user_id", "session_id").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val typeN = sess.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    sess.select(col("user_id"), col("session_id"), col("event_type").as("type_a"))
      .join(sess.select(col("user_id"), col("session_id"),
        col("event_type").as("type_b")), Seq("user_id", "session_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
      .join(broadcast(typeN.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), "type_a")
      .join(broadcast(typeN.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(n))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_a"), 6).as("conf_a_b"),
        round(col("n_ab").cast("double") * col("n_sessions")
          / (col("n_a") * col("n_b")), 6).as("lift"))
  }

  /** Session-gap threshold sweep (C160): sessionization's one free
    * parameter, audited — for each candidate inactivity gap (15/30/60
    * min), the session count and mean events/session the corpus would
    * produce. A session START is exactly "first event per user, or
    * inter-event gap > θ", so the whole sweep is ONE per-user lag
    * window plus one conditional aggregate unpivoted to fixed rows —
    * never re-sessionizing per θ. The elbow in this table is how the
    * production gap ([[sessionize]]'s 30 min) gets defended. */
  def sessionGapSweep(events: DataFrame,
      gapsMin: Seq[Int] = Seq(15, 30, 60)): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
    val starts = gapsMin.map { m =>
      sum(when(col("prev_us").isNull ||
        col("us") - col("prev_us") > m * 60L * 1000000L, 1L).otherwise(0L))
        .as(s"s$m")
    }
    gaps.agg(count(lit(1)).as("n_events"), starts: _*)
      .select(col("n_events"), explode(array(gapsMin.map { m =>
        struct(lit(m).as("gap_minutes"), col(s"s$m").as("n_sessions"))
      }: _*)).as("g"))
      .select(col("g.gap_minutes").as("gap_minutes"),
        col("g.n_sessions").as("n_sessions"), col("n_events"),
        round(col("n_events").cast("double") / col("g.n_sessions"), 6)
          .as("avg_session_events"))
  }

  /** Time-decay multi-touch attribution (C155) — the fourth member of
    * the attribution family (last-touch C92, linear C93, Markov C132):
    * each purchase's value is split across its clicks in the 24 h
    * lookback with weight exp(-gap/τ), τ = 6 h, so the touch nearest
    * the conversion earns the most credit and a day-old touch almost
    * none. Report: attributed value by click hour-of-day.
    *
    * Exactness: weights round at 9 dp; the per-purchase normalizer and
    * the final per-hour totals (at 4 dp) are exact sums
    * ([[Folds.exactSum]]), so every value is partition-order
    * independent.
    *
    * Scale: the purchase→click pairing rides [[Relational.rangeJoin]]'s
    * binned (user_id, 24h-bin) equi-join — same discipline as
    * attribution_linear; the normalizer is a per-purchase window on the
    * touch frame (one shuffle on event_id), never a data-sized state. */
  def attributionTimeDecay(events: DataFrame, tauS: Double = 21600.0): DataFrame = {
    val lookbackUs = 24L * 3600L * 1000000L
    val e = events.select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(min("event_id").as("click_event_id"))
    val touches = Relational.rangeJoin(purchases, clicks, "user_id",
        "us", "click_us", lookbackUs)
      .filter(col("click_us") > col("us") - lit(lookbackUs))
      .withColumn("w", round(
        exp(-((col("us") - col("click_us")) / lit(1000000.0)) / lit(tauS)), 9))
    val perPurchase = Window.partitionBy("event_id")
    touches
      .withColumn("denom", round(Folds.exactSum(col("w")).over(perPurchase), 9))
      .withColumn("att", round(col("cents") * col("w") / col("denom"), 4))
      .groupBy(expr("pmod(click_us div 3600000000, 24)").as("click_hour"))
      .agg(count(lit(1)).as("n_touches"),
        round(Folds.exactSum(col("att")), 4).as("attributed_value"))
  }

  /** Position-based (U-shaped) attribution (C253) — the fifth member of
    * the attribution family: 40% of each purchase's value to the FIRST
    * touch in the 24 h lookback, 40% to the LAST, the remaining 20%
    * split evenly across the middles (single touch takes 100%, a pair
    * 50/50) — the standard position-based model between last-touch's
    * recency bias and linear's flat split. Same binned range-join
    * pairing and per-purchase lookback-bounded windows as
    * [[attributionTimeDecay]]; position weights are exact rationals
    * except the middle share (9 dp), attributions fold at 4 dp. */
  def attributionPosition(events: DataFrame): DataFrame = {
    val lookbackUs = 24L * 3600L * 1000000L
    val e = events.select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us").as("click_us"))
      .agg(min("event_id").as("click_event_id"))
    val touches = Relational.rangeJoin(purchases, clicks, "user_id",
        "us", "click_us", lookbackUs)
      .filter(col("click_us") > col("us") - lit(lookbackUs))
    val perPurchase = Window.partitionBy("event_id")
    val byTime = perPurchase.orderBy(col("click_us"))
    val w = touches
      .withColumn("rn", row_number().over(byTime))
      .withColumn("n", count(lit(1)).over(perPurchase))
      .withColumn("w",
        when(col("n") === 1, lit(1.0))
          .when(col("n") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("n"), lit(0.4))
          .otherwise(round(lit(0.2) / (col("n") - 2), 9)))
    w.withColumn("att", round(col("cents") * col("w"), 4))
      .groupBy(expr("pmod(click_us div 3600000000, 24)").as("click_hour"))
      .agg(count(lit(1)).as("n_touches"),
        round(Folds.exactSum(col("att")), 4).as("attributed_value"))
  }

  /** Touches-to-convert distribution (C173): for converting users, how
    * many pre-purchase touch events the journey took — the histogram
    * behind "how long is our funnel really" (the attribution family
    * splits credit; this sizes the path). Journeys truncate at the
    * first purchase like [[markovAttribution]]'s; one window pass +
    * one per-user aggregate, touch-count-bounded output. */
  def touchesToConvert(events: DataFrame): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val before = order.rowsBetween(Window.unboundedPreceding, -1)
    val kept = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("purch_before",
        coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(before), lit(0L)))
      .filter(col("purch_before") === 0L)
    val perUser = kept.groupBy("user_id").agg(
      sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L))
        .as("n_touches"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .filter(col("conv") === 1L)
    val tot = perUser.agg(count(lit(1)).as("n_converting"))
    perUser.groupBy("n_touches").agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .select(col("n_touches"), col("n_users"),
        round(col("n_users").cast("double") / col("n_converting"), 6)
          .as("share"))
  }

  /** Shapley-value multi-touch attribution (C172) — the coalition-game
    * model completing the family (last-touch C92, linear C93, time-decay
    * C155, Markov C132): journeys truncate at the first purchase, each
    * user contributes their EXACT pre-conversion channel set, the
    * coalition value v(S) is the observed conversion rate of that exact
    * set (unobserved coalitions value 0 — the standard practical
    * estimator), and each channel's Shapley value averages its marginal
    * contribution over the 2⁴-bounded subset lattice.
    *
    * Scale: one per-user window pass + one set-keyed aggregate is the
    * only data-sized work; the coalition table is ≤ 2⁴ rows — bounded by
    * the SCHEMA's channel universe, not the corpus — so the lattice sum
    * runs as driver arithmetic under the same license as
    * [[markovAttribution]]'s state²-bounded chain. Both engines
    * enumerate subsets in the identical order with identical
    * integer-coefficient terms, so the 6 dp values match exactly. */
  def shapleyAttribution(events: DataFrame,
      channels: Seq[String] = Seq("click", "error", "signup", "view")): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val before = order.rowsBetween(Window.unboundedPreceding, -1)
    val kept = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("purch_before",
        coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(before), lit(0L)))
      .filter(col("purch_before") === 0L)
    val userSets = kept.groupBy("user_id").agg(
      concat_ws(",", sort_array(collect_set(
        when(col("event_type") =!= "purchase", col("event_type")))))
        .as("set_key"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val v: Map[String, Double] = userSets.groupBy("set_key")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .collect()
      .map(r => r.getString(0) ->
        BigDecimal(r.getLong(2).toDouble / r.getLong(1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .toMap
    def vx(s: Seq[String]): Double = v.getOrElse(s.sorted.mkString(","), 0.0)
    // factorials sized to the ACTUAL channel universe: the lattice is
    // 2^n-bounded by the schema, and the Shapley coefficient
    // |S|!·(n−1−|S|)!/n! must use that n — a hard-coded 4-channel table
    // would throw on 5+ channels and silently mis-weight 3
    val n = channels.length
    // 18 is the largest n with every factorial exact in double (18! ≈
    // 6.4e15 < 2^53; 19! is already inexact, and inexact coef/fact(n)
    // weights could flip the 6-dp HALF_UP rounding at knife edges).
    // The 2^n driver-side lattice is also ≤ 262k terms/channel there.
    require(n >= 1 && n <= 18, s"channel universe must be 1..18, got $n")
    val fact = new Array[Double](n + 1)
    fact(0) = 1.0
    for (i <- 1 to n) fact(i) = fact(i - 1) * i
    val rows = channels.map { c =>
      val others = channels.filterNot(_ == c)
      val terms = (0 until (1 << others.length)).map { mask =>
        val s = others.zipWithIndex.collect { case (ch, i) if (mask & (1 << i)) != 0 => ch }
        val coef = fact(s.length) * fact(n - 1 - s.length)
        coef * (vx(s :+ c) - vx(s)) / fact(n)
      }
      val phi = BigDecimal(terms.reduceLeft(_ + _))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (c, phi)
    }
    events.sparkSession.createDataFrame(rows)
      .toDF("channel", "shapley_value")
  }

  /** Transition-matrix baseline accuracy (C109): how predictable is the
    * NEXT event type from the current one alone? Build the global
    * first-order transition counts (per-user event order), predict
    * argmax-next per state (count ties broken lexicographically), and
    * report per-state transition mass, hits, and accuracy — the
    * baseline every sequence model must beat, and a drift tripwire when
    * accuracy moves. Per-user lead window is one shuffle; everything
    * after lives on the event-type-bounded matrix. */
  def transitionPredict(events: DataFrame): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val tr = events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(order))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("prev_type"), col("next_type"))
    val counts = tr.groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
    val wBest = Window.partitionBy("prev_type")
      .orderBy(col("n").desc, col("next_type"))
    val best = counts.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("prev_type"), col("next_type").as("predicted"))
    counts.join(broadcast(best), Seq("prev_type"))
      .groupBy("prev_type", "predicted")
      .agg(sum(col("n")).as("n_transitions"),
        sum(when(col("next_type") === col("predicted"), col("n"))
          .otherwise(0L)).as("n_correct"))
      .select(col("prev_type"), col("predicted"), col("n_transitions"),
        col("n_correct"),
        round(col("n_correct").cast("double") / col("n_transitions"), 6)
          .as("accuracy"))
  }

  /** Stationary distribution of the event-type Markov chain (C235):
    * where [[transitionPredict]] reads ONE step ahead, this is the
    * long-run occupancy π = πP — "which state does the product
    * actually live in", the fixed point marketing/ops compare against
    * the raw event mix to see flow concentration. Computed by `iters`
    * unrolled power steps from the uniform vector: the transition
    * matrix is states²-bounded (broadcast, localCheckpointed so the
    * plan stays flat in iterations — the bpe_train discipline), each
    * step's products round at 9 dp and sum exactly
    * ([[Folds.exactSum]]), so the result is partition-order independent. */
  def markovStationary(events: DataFrame, iters: Int = 12): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val tr = events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(order))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("f"), col("next_type").as("t"))
    val counts = tr.groupBy("f", "t").agg(count(lit(1)).as("n"))
    val m = counts
      .join(counts.groupBy("f").agg(sum(col("n")).as("nf")), "f")
      .select(col("f"), col("t"), round(col("n").cast("double") / col("nf"), 9).as("p"))
      .transform(CacheTracker.pin)
    val states = m.select(col("f").as("s")).distinct()
    var pi = states
      .crossJoin(broadcast(states.agg(count(lit(1)).as("k"))))
      .select(col("s"), round(lit(1.0) / col("k"), 9).as("pi"))
      .transform(CacheTracker.pin)
    for (_ <- 1 to iters) {
      pi = pi.join(m, col("s") === col("f"))
        .groupBy(col("t").as("s"))
        .agg(round(Folds.exactSum(round(col("pi") * col("p"), 9)), 9).as("pi"))
        .transform(CacheTracker.pin)
    }
    pi.select(col("s").as("event_type"), round(col("pi"), 6).as("stationary_p"))
  }

  /** Inter-arrival regularity bot score (C104): per user, the
    * coefficient of variation of inter-event gaps — humans arrive
    * bursty (CV ≳ 1), schedulers and scrapers arrive metronomically
    * (CV → 0) — plus the gap moments behind it. `is_regular` flags
    * users with ≥ `minGaps` gaps whose CV is under `cvThreshold`.
    *
    * Exactness: gaps truncate to whole seconds, so the moment sums stay
    * in BIGINT — and Σgap² is bounded by (max gap)·(Σgaps) ≤ span², not
    * by event count, so a 50-year retention window still fits 63 bits.
    * The only float work is the final mean/var/cv division chain (9/6
    * dp). One shuffle on user_id (lag window), one partial-agg shuffle
    * for the moments. */
  def botScore(events: DataFrame, cvThreshold: Double = 0.3,
               minGaps: Int = 5): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val moments = events
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .filter(col("prev_us").isNotNull)
      .select(col("user_id"),
        expr("(us - prev_us) div 1000000").as("gap_s"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("s"),
        sum(col("gap_s") * col("gap_s")).as("ss"))
    botScoreFromMoments(moments, cvThreshold, minGaps)
  }

  /** The moment→score step of [[botScore]], factored so the streaming
    * incremental twin (a durable (n, Σgap, Σgap²) store merged per
    * micro-batch — integer moments merge associatively, so the merged
    * score is BIT-identical to the batch operator's) shares the exact
    * formula. Input: (user_id, n_gaps, s, ss) with n_gaps ≥ 1. */
  def botScoreFromMoments(m: DataFrame, cvThreshold: Double = 0.3,
                          minGaps: Int = 5): DataFrame =
    m.select(col("user_id"), col("n_gaps"),
        round(col("s").cast("double") / col("n_gaps"), 9).as("mean_gap_s"),
        // clamp: constant gaps can land ulp-negative and NaN the sqrt
        greatest(round((col("ss").cast("double") -
          col("s").cast("double") * col("s") / col("n_gaps"))
          / col("n_gaps"), 9), lit(0.0)).as("var_gap_s"))
      .select(col("user_id"), col("n_gaps"), col("mean_gap_s"),
        when(col("mean_gap_s") > 0,
          round(sqrt(col("var_gap_s")) / col("mean_gap_s"), 6))
          .otherwise(lit(0.0)).as("cv_gap"))
      .withColumn("is_regular",
        col("n_gaps") >= minGaps && col("cv_gap") < cvThreshold)

  /** Point-in-time (PIT) join (C103): attach to every purchase event the
    * SCD2 dimension row valid AT that instant — the feature-store /
    * warehouse lookup that prevents time travel leakage. The dimension
    * here is the user's engagement state ([[scd2Intervals]] runs over
    * click/view events only); purchases probe it at their own timestamp.
    * Purchases before a user's first known state (or for users with no
    * click/view history) are dropped, mirroring an inner interval join.
    *
    * Scale: NOT an interval-predicate join (that plans as a broadcast
    * nested loop) — [[AsOf.asofJoin]]'s union + single ordered window
    * pass finds the latest `valid_from_us <= us` interval in one shuffle
    * on user_id; because SCD2 intervals are contiguous per user, the
    * `us < valid_to_us` residual only trims probes before the first
    * interval. */
  def pitJoin(events: DataFrame): DataFrame = {
    val dim = scd2Intervals(
        events.filter(col("event_type").isin("click", "view")))
      .select(col("user_id"), col("event_type").as("state"),
        col("valid_from_us"), col("valid_to_us"))
    val probes = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    AsOf.asofJoin(probes, dim, "user_id", "us", "valid_from_us")
      .filter(col("us") < col("valid_to_us"))
      .select("event_id", "user_id", "us", "state", "valid_from_us")
  }

  /** Markov removal-effect attribution (C132) — the data-driven
    * multi-touch model beyond last-touch/linear (C92/C93): fit a
    * first-order Markov chain over user journeys (START → event types →
    * CONV at the first purchase, NULL when a journey ends unconverted),
    * then credit each channel by its REMOVAL EFFECT — how much total
    * conversion probability disappears when every transition into that
    * channel is redirected to NULL (paths through it break; transition
    * probabilities are NOT renormalized, per the standard estimator).
    *
    * P(conversion) is evaluated by `steps` unrolled vector-chain
    * multiplications from the START distribution — both engines walk
    * the IDENTICAL truncation, so the value is deterministic without a
    * linear solve. Exactness: probabilities round at 9 dp off exact
    * BIGINT counts; per-step mass sums fold sorted over the ≤5-state
    * frame; final effects at 6 dp.
    *
    * Scale: one per-user window pass builds the transition counts; the
    * fitted matrix is STATE²-bounded (≤ 7×7 — event types + START/CONV/
    * NULL), a size fixed by the schema, not the corpus, so the 5 × 8
    * chain evaluations run as driver arithmetic on the collected matrix
    * (the same bounded-collect license as doc_similarity_pruned's
    * one-row stats read) instead of ~40 scheduled joins over one-row
    * frames — identical values (same sorted-fold + HALF_UP 9 dp
    * rounding), two orders of magnitude less stage overhead. */
  def markovAttribution(events: DataFrame, steps: Int = 8): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val before = order.rowsBetween(Window.unboundedPreceding, -1)
    // journey = events up to and including the user's FIRST purchase
    val kept = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("purch_before",
        coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(before), lit(0L)))
      .filter(col("purch_before") === 0L)
    val withNext = kept
      .withColumn("next_type", lead(col("event_type"), 1).over(order))
      .withColumn("rn", row_number().over(order))
    val starts = withNext.filter(col("rn") === 1)
      .select(lit("START").as("src"), col("event_type").as("dst"))
    val mids = withNext.filter(col("next_type").isNotNull)
      .select(col("event_type").as("src"), col("next_type").as("dst"))
    val ends = withNext
      .filter(col("next_type").isNull && col("event_type") =!= "purchase")
      .select(col("event_type").as("src"), lit("NULL").as("dst"))
    val counts = starts.union(mids).union(ends)
      .select(col("src"),
        when(col("dst") === "purchase", "CONV").otherwise(col("dst")).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
    val outMass = counts.groupBy("src").agg(sum(col("n")).as("n_out"))
    // the ONLY data-sized work ends here: collect the bounded matrix
    val trans: Array[(String, String, Double)] = counts.join(outMass, "src")
      .select(col("src"), col("dst"),
        round(col("n").cast("double") / col("n_out"), 9).as("p"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // driver twins of the oracle's numeric discipline: HALF_UP decimal
    // rounding (what round() does) and the ascending sorted fold (what
    // the DuckDB twin's list_reduce(list_sort(..)) does) — bit-identical
    def rnd(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def fold(vs: Seq[Double]): Double = vs.sorted.foldLeft(0.0)(_ + _)
    // P(conv) within `steps` transitions under a given relabeled matrix:
    // chain the START mass vector, collecting each step's CONV arrivals
    def pconvClean(t: Seq[(String, String, Double)]): Double = {
      var v = Map("START" -> 1.0)
      val conv = List.newBuilder[Double]
      for (_ <- 1 to steps) {
        val m = for {
          (state, mass) <- v.toSeq
          (src, dst, p) <- t if src == state
        } yield (dst, rnd(mass * p, 9))
        val stepped = m.groupBy(_._1)
          .map { case (dst, ms) => dst -> rnd(fold(ms.map(_._2)), 9) }
        stepped.get("CONV").foreach(conv += _)
        v = stepped - "CONV" - "NULL"
      }
      rnd(fold(conv.result()), 9)
    }
    val base = pconvClean(trans.toSeq)
    val channels = Seq("view", "click", "error", "signup")
    val effects = channels.map { c =>
      val relabeled = trans.toSeq.map { case (src, dst, p) =>
        (src, if (dst == c) "NULL" else dst, p)
      }
      val removal = pconvClean(relabeled)
      val eff = if (base > 0) rnd(1.0 - removal / base, 6) else 0.0
      (c, base, removal, eff)
    }
    val sumEff = rnd(fold(effects.map(_._4)), 9)
    val rows = effects.map { case (c, b, r, e) =>
      (c, b, r, e, if (sumEff > 0) rnd(e / sumEff, 6) else 0.0)
    }
    events.sparkSession.createDataFrame(rows)
      .toDF("channel", "base_pconv", "removal_pconv", "removal_effect",
        "attribution")
  }

  /** Regex pattern matching over session event sequences (C115) — the
    * MATCH_RECOGNIZE / funnel-regex shape: each session's ordered event
    * types are encoded as one `a>b>c` path string (capped at `maxLen`
    * events so a bot session cannot build an unbounded row) and matched
    * against a fixed library of behavioural patterns; output is one row
    * per pattern with match count and rate.
    *
    * The patterns stay in the RE2 ∩ java.util.regex common subset
    * (literals, `.`, `*`, anchors) so Spark's rlike and the DuckDB
    * oracle's regexp_matches agree by construction. Scale: the session
    * build is the standard one-shuffle lag window; the path frame is
    * session-sized and the per-pattern flags are narrow column ops that
    * collapse in one partial-agg pass — the 4-row output never shuffles
    * data-sized state. */
  def pathPatternMatch(events: DataFrame, gapMinutes: Int = 30,
      maxLen: Int = 20): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val sessioned = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
    val so = Window.partitionBy("user_id", "session_id")
      .orderBy(col("us"), col("event_id"))
    val paths = sessioned
      .withColumn("rn", row_number().over(so))
      .filter(col("rn") <= maxLen)
      .groupBy("user_id", "session_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          p => p.getField("event_type")), ">").as("path"))
    val patterns = Seq(
      "browse_only" -> "^view(>view)*$",
      "view_to_purchase" -> "view.*purchase",
      "error_retry" -> "error.*error",
      "signup_first" -> "^signup")
    val flagged = patterns.foldLeft(paths) { case (df, (name, re)) =>
      df.withColumn(name, when(col("path").rlike(re), 1L).otherwise(0L))
    }
    val agg = flagged.agg(
      count(lit(1)).as("n_sessions"),
      patterns.map { case (name, _) => sum(col(name)).as(name) }: _*)
    agg.selectExpr(
      "stack(4, " + patterns.map { case (n, _) => s"'$n', $n" }.mkString(", ") +
        ") AS (pattern, n_matched)",
      "n_sessions")
      // empty stream: global-agg sums are NULL and n_sessions 0 — report
      // zero counts/rates, not nulls
      .select(col("pattern"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        col("n_sessions"),
        when(col("n_sessions") > 0,
          round(coalesce(col("n_matched"), lit(0L)).cast("double")
            / col("n_sessions"), 6)).otherwise(lit(0.0)).as("match_rate"))
  }

  /** Session-path entropy (C150): Shannon entropy (and perplexity =
    * e^H, the effective number of distinct journeys) of the
    * [[sessionPaths]] distribution — one number for "how templated is
    * user behavior?", the diversity gauge a funnel redesign is judged
    * by. The exact sum over 6 dp-rounded −p·ln p terms is the
    * sourceLangEntropy discipline on the |event_types|³-bounded path
    * frame. */
  def pathEntropy(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val paths = sessionPaths(events, gapMinutes)
    val tot = paths.agg(sum(col("n_sessions")).as("n_total"))
    paths.crossJoin(broadcast(tot))
      .select(col("n_total"),
        round(-(col("n_sessions").cast("double") / col("n_total")) *
          log(col("n_sessions").cast("double") / col("n_total")), 6).as("term"))
      .groupBy("n_total")
      .agg(count(lit(1)).as("n_paths"),
        round(Folds.exactSum(col("term")), 6).as("entropy"))
      .select(col("n_total").as("n_sessions"), col("n_paths"), col("entropy"),
        round(exp(col("entropy")), 6).as("perplexity"))
  }

  /** Peak concurrent sessions per day (C137): the classic interval-
    * overlap sweep — each [[byLag]] session emits +1 at its start and
    * −1 at its end, the deltas cumulative-sum in (us, starts-first,
    * user, session) total order, and each day reports the maximum
    * running count observed at a session START in that day (every local
    * maximum of the sweep is at a start, so per-day maxima over start
    * instants are the true in-day peaks; days with no starts are not
    * emitted — both engines identically). A session's end instant is
    * inclusive: a session ending exactly when another starts counts as
    * overlapping at that instant.
    *
    * Scale posture: the sweep's running sum is the textbook case for
    * [[Ranks.withGlobalCumSum]] — 2 rows per session is data-sized, and
    * a naive Window.orderBy would serialize the whole event history
    * through one task. */
  def sessionConcurrency(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sess = byLag(events, gapMinutes)
    val deltas = sess.select(col("user_id"), col("session_id"),
        col("session_start_us").as("us"), lit(1L).as("delta"))
      .unionByName(sess.select(col("user_id"), col("session_id"),
        col("session_end_us").as("us"), lit(-1L).as("delta")))
    Ranks.withGlobalCumSum(deltas, "delta", "concurrent", "_net",
        Seq(col("us"), col("delta").desc, col("user_id"), col("session_id")))
      .filter(col("delta") === 1L)
      .select(expr("us div 86400000000").as("day_idx"), col("concurrent"))
      .groupBy("day_idx")
      .agg(max(col("concurrent")).as("max_concurrent"),
        count(lit(1)).as("n_sessions_started"))
  }
}
