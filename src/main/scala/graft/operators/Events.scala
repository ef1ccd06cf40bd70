package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event/time-series aggregates over the events table (ts arrives as
  * INT64 nanosecond epochs — whatever the Parquet physical type,
  * Tables.normalizeEventTs re-establishes the epoch-nanos long
  * contract at the read boundary, so the arithmetic here never
  * type-dispatches).
  *
  * Oracle-parity strategy: bucket boundaries and session arithmetic
  * stay in exact integer nanoseconds (a 2024 epoch-nano is ~1.7e18 —
  * fits long), and money-like doubles are summed with the fixed-point
  * trick, so every output hash-matches DuckDB. The tumbling path also
  * exists in real timestamp form (tumblingAgg/window()) for the
  * streaming engine, where watermarks need a timestamp column.
  */
object Events {

  /** Exact integral division (SQL `div`, truncates toward zero). Plain
    * `/` is DOUBLE division — a 2024 epoch-nano (~1.7e18) exceeds
    * 2^53, so the double path can misbucket values near boundaries;
    * `div` stays in long. */
  private def ldiv(a: Column, b: Long): Column = call_function("div", a, lit(b))

  /** FLOOR integral division (rounds toward -infinity): `div` truncates
    * toward zero, so for a pre-1970 nano like -100 it yields 0 where
    * timestamp semantics (and DuckDB's epoch_us) demand -1 — a 1 µs
    * shift that could flip a session boundary. pmod(a,b) is in [0,b),
    * so a - pmod(a,b) is the largest multiple of b <= a, exactly. */
  private[operators] def lfloorDiv(a: Column, b: Long): Column =
    call_function("div", a - pmod(a, lit(b)), lit(b))

  /** Nanosecond epoch → timestamp (microsecond FLOOR, like epoch_us —
    * a timestamp is the microsecond interval containing the instant). */
  def tsFromNanos(ns: Column): Column = timestamp_micros(lfloorDiv(ns, 1000L))

  /** Nanosecond epoch → microsecond epoch long (FLOOR — matches
    * DuckDB's epoch_us for all signs). The µs-precision contract for
    * cross-engine temporal comparisons (see sessionize). */
  def epochMicros(ns: Column): Column = lfloorDiv(ns, 1000L)

  /** Epoch-day bucket from an epoch-nano long — TRUNCATING division
    * (bucketEpoch's oracle convention: DuckDB's integer `//`
    * truncates). The day key behind burstiness/rollingDaily/growth. */
  def dayBucket(ns: Column): Column = ldiv(ns, 86400L * 1000000000L)

  /** Tumbling bucket start in epoch SECONDS from an epoch-nano long —
    * exact integer division, bit-exact cross-engine. Deliberately
    * TRUNCATING (not flooring): the oracle buckets with DuckDB's `//`,
    * which truncates for integers (verified: -7 // 2 = -3), so both
    * engines place a pre-1970 event in the same bucket. */
  def bucketEpoch(ns: Column, widthSeconds: Long): Column =
    ldiv(ns, widthSeconds * 1000000000L) * widthSeconds

  /** Tumbling-window aggregate per event type: count + exact 2-decimal
    * value sum per (bucket, type). One hash-aggregate. */
  def tumblingByType(df: DataFrame, widthSeconds: Long): DataFrame =
    df.groupBy(
        bucketEpoch(col("ts"), widthSeconds).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100)) / 100.0).as("sum_value"))

  /** Tumbling aggregate in real timestamp form via window() — the
    * batch twin of the streaming path (EventStream). */
  def tumblingAgg(df: DataFrame, tsCol: Column, width: String): DataFrame =
    df.groupBy(window(tsCol, width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("bucket"), col("event_type"), col("n"))

  /** Top-n events per user by value (tie: lowest event_id) — the
    * PARTITIONED window pattern: row_number over (user_id) spreads
    * across tasks by user, unlike a global-order window (the
    * scale-killer flagged in round 2's topTerms). One shuffle on
    * user_id; per-task state is one counter. */
  def topPerUser(df: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    df.select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= n)
  }

  /** TopKAgg form of topPerUser — the skew-safe twin: the ranking
    * window sorts EVERY row of a hot user inside one partition slice,
    * while the bounded partial aggregate ships at most n (id, value)
    * pairs per user per task and merges them — the shuffle is
    * O(users·n·tasks), independent of how many events the hottest
    * user has. Identical output contract (value desc, event_id asc
    * tie-break; parity pinned in EventsSpec). */
  def topPerUserAgg(df: DataFrame, n: Int): DataFrame =
    df.groupBy(col("user_id"))
      .agg(graft.functions.TopKAgg.topK(n, col("event_id"), col("value")).as("__top"))
      .select(col("user_id"), posexplode(col("__top")).as(Seq("__r0", "__p")))
      .select(col("user_id"), col("__p._1").as("event_id"), col("__p._2").as("value"),
        (col("__r0") + 1).cast("int").as("rank"))

  /** Ordered conversion funnel: a user reaches step k when an event of
    * that step's type occurs STRICTLY AFTER the time they reached step
    * k-1 (first-occurrence semantics, µs precision). Output: one row
    * per step — (step 1-based, event_type, n_users reaching it).
    *
    * Each step is one aggregate + one broadcast-friendly join of the
    * previous step's (user, t) table (shrinking monotonically), so the
    * plan is a chain of hash-aggregates over the events scan — no
    * windows, no per-user state beyond one timestamp. */
  def funnelCounts(df: DataFrame, steps: Seq[String]): DataFrame =
    funnelFold(df, steps, window = None)

  /** The shared greedy fold behind both funnel forms: (user, first
    * time step k was reached), folded left to right, with an optional
    * per-transition time bound. The bound compares BY SUBTRACTION
    * (ts - t_prev <= w) — the addition form t_prev + w overflows Long
    * for near-MaxValue windows and would silently reject everything. */
  private def funnelFold(df: DataFrame, steps: Seq[String],
                         window: Option[Long]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = df.select(col("user_id"), col("event_type"),
      epochMicros(col("ts")).as("ts_us"))
    val first = ev.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("ts_us")).as("t"))
    val reached = steps.drop(1).scanLeft(first) { (prev, step) =>
      val base = ev.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("t").as("t_prev")), "user_id")
        .filter(col("ts_us") > col("t_prev"))
      window.fold(base)(w => base.filter(col("ts_us") - col("t_prev") <= w))
        .groupBy("user_id").agg(min(col("ts_us")).as("t"))
    }
    reached.zip(steps).zipWithIndex.map { case ((r, step), i) =>
      r.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(step).as("event_type"),
          col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Time-bounded funnel: like funnelCounts, but a user reaches step
    * k only if an event of that type occurs within windowMicros AFTER
    * reaching step k-1 — the "converted within 30 minutes" contract
    * (the unbounded form counts a purchase a year after the click).
    * The first step is unconstrained.
    *
    * Semantics, stated precisely: GREEDY FIRST-REACH — t_k is the
    * earliest qualifying event after t_{k-1}, and the window for step
    * k+1 is measured from THAT time. A user whose first step-k event
    * starts a chain that later times out, but who has a LATER step-k
    * event from which the full chain would fit, still counts as
    * stopped (this is the common analytics-product funnel rule; the
    * alternative — search over all chains — is a different, more
    * expensive operator, not a bug fix to this one). */
  def funnelCountsWithin(df: DataFrame, steps: Seq[String],
                         windowMicros: Long): DataFrame = {
    require(windowMicros > 0, s"windowMicros must be positive, got $windowMicros")
    funnelFold(df, steps, window = Some(windowMicros))
  }

  /** Gap-based sessionization (islands idiom): a new session starts
    * when the user's inter-event gap exceeds gapMicros. Output: one row
    * per (user, session) with bounds and counts, all exact integers.
    * Two window functions over the same (user_id, ts_us, event_id)
    * ordering — one shuffle by user_id.
    *
    * Session arithmetic is defined at MICROSECOND precision on both
    * engines: the raw column is epoch NANOS (Parquet TIMESTAMP(NANOS),
    * nanosAsLong=true) but DuckDB's timestamp type truncates to micros,
    * so the sub-microsecond digits are unrecoverable on the oracle
    * side. Flooring BEFORE the gap compare (not just on output)
    * guarantees a session boundary can never straddle the lost digits
    * — both engines see identical gaps. FLOOR division (not `div`)
    * because DuckDB's epoch_us floors: a -100 ns event is in
    * microsecond -1 on both engines. */
  def sessionize(df: DataFrame, gapMicros: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    df.select(col("user_id"), lfloorDiv(col("ts"), 1000L).as("ts_us"), col("event_id"))
      .withColumn("new_session",
        when(col("ts_us") - lag("ts_us", 1).over(byUser) > gapMicros, 1)
          .when(lag("ts_us", 1).over(byUser).isNull, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("t_start_us"),
        max("ts_us").as("t_end_us"),
        (max("ts_us") - min("ts_us")).as("duration_us"))
  }

  /** Per-event session-relative features — the sequence-model inputs
    * sessionize's per-SESSION rollup drops: each event's session id,
    * ordinal position inside its session, and exact-µs offset from
    * the session start ("how deep into the visit was this click").
    * Same gaps-and-islands session definition as sessionize, same
    * (ts_us, event_id) total-order contract.
    *
    * Scale shape: three window passes ALL partitioned by user_id (the
    * session windows subpartition it) — one shuffle key end-to-end,
    * output one row per event. Output: (event_id, user_id,
    * session_id, event_type, pos_in_session, t_since_start_us). */
  def sessionFeatures(df: DataFrame, gapMicros: Long): DataFrame = {
    require(gapMicros > 0, s"gapMicros must be positive, got $gapMicros")
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val base = df.select(col("user_id"), col("event_id"),
        lfloorDiv(col("ts"), 1000L).as("ts_us"), col("event_type"))
      .withColumn("__new",
        when(col("ts_us") - lag("ts_us", 1).over(byUser) > gapMicros, 1)
          .when(lag("ts_us", 1).over(byUser).isNull, 1).otherwise(0))
      .withColumn("session_id", sum("__new").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
    val bySession = Window.partitionBy("user_id", "session_id")
      .orderBy("ts_us", "event_id")
    base
      .withColumn("pos_in_session", row_number().over(bySession).cast("long"))
      .withColumn("t_since_start_us", col("ts_us")
        - min("ts_us").over(Window.partitionBy("user_id", "session_id")))
      .select("event_id", "user_id", "session_id", "event_type",
        "pos_in_session", "t_since_start_us")
  }

  /** Next-event label generation — the (event, next-event) training
    * pairs a next-action / sequential-recommendation model consumes:
    * for each event, the same user's NEXT event type and the exact-µs
    * gap to it (both NULL for the user's last event). One lead()
    * window = one shuffle on user_id; ordering is (ts_us, event_id),
    * the same total-order contract sessionize uses (unique event ids
    * break timestamp ties identically on both engines).
    * Output: (event_id, user_id, event_type, next_type, gap_us). */
  def nextEventLabels(df: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    df.select(col("event_id"), col("user_id"), col("event_type"),
        lfloorDiv(col("ts"), 1000L).as("ts_us"))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .withColumn("gap_us", lead("ts_us", 1).over(byUser) - col("ts_us"))
      .select("event_id", "user_id", "event_type", "next_type", "gap_us")
  }

  /** Per-user lag features — the feature-engineering twin of
    * nextEventLabels (which looks FORWARD for labels; this looks BACK
    * for model inputs): previous value, exact-µs gap since the
    * previous event, and 3-event trailing mean/max of `value`. The
    * moving stats are built from EXPLICIT lag() columns, never a
    * frame aggregate: (v + l1 + l2) / 3 is a pinned left-assoc IEEE
    * sequence on both engines, where a windowed avg(… ROWS 2
    * PRECEDING) is free to re-associate (DuckDB evaluates frame
    * aggregates over a segment tree) — the same class of cross-engine
    * FP trap as distributed sums. Stats are NULL until the user has a
    * full 3-event history (no partial-window fudge: a 1-event "mean"
    * is a lie to the model).
    *
    * One window = one shuffle on user_id; per-user order is (ts_us,
    * event_id), the sessionize total-order contract.
    * Output: (event_id, user_id, ts_us, value, prev_value, gap_us,
    * avg3, max3). */
  def lagFeatures(df: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    df.select(col("event_id"), col("user_id"),
        lfloorDiv(col("ts"), 1000L).as("ts_us"), col("value"))
      .withColumn("prev_value", lag("value", 1).over(byUser))
      .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(byUser))
      .withColumn("__l2", lag("value", 2).over(byUser))
      .withColumn("avg3",
        (col("value") + col("prev_value") + col("__l2")) / lit(3.0))
      // greatest() skips NULLs on both engines — gate it explicitly so
      // a 2-event history yields NULL, not a 2-event "max of 3"
      .withColumn("max3",
        when(col("prev_value").isNotNull && col("__l2").isNotNull,
          greatest(col("value"), col("prev_value"), col("__l2"))))
      .drop("__l2")
  }

  /** Native session_window twin of sessionize (streaming-capable). */
  def sessionWindowAgg(df: DataFrame, tsCol: Column, gap: String): DataFrame =
    df.groupBy(col("user_id"), session_window(tsCol, gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("t_start"),
        col("w.end").as("t_end"), col("n_events"))

  /** Cohort retention: bucket time into fixed periods (default 1 day),
    * assign each user the period of their FIRST event (their cohort),
    * and count how many of each cohort's users were active again k
    * periods later — the classic retention triangle. Exact integer
    * periods via the shared µs floor-div contract.
    *
    * Three partial-agg shuffles, none corpus-wide: dedup to (user,
    * period) — one row per active-day, not per event; a user-
    * partitioned window for the cohort min; then a hash-agg on
    * (cohort, offset). After the dedup each (user, period) is unique,
    * so the final count needs no count-distinct. Output: (cohort,
    * period_offset, n_users). tsCol is epoch-ns long (the µs
    * contract): FLOOR to µs first, exactly like DuckDB's epoch_us,
    * then TRUNCATING division into periods — bucketEpoch's
    * convention, because the oracle's `//` truncates for integers
    * (-7 // 2 = -3), so both engines period a pre-1970 event the
    * same way. */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
                      widthSeconds: Long = 86400L): DataFrame = {
    require(widthSeconds > 0, s"widthSeconds must be positive, got $widthSeconds")
    val period = ldiv(epochMicros(col(tsCol)), widthSeconds * 1000000L)
    val active = df.select(col(userCol).as("u"), period.as("period")).distinct()
    val w = Window.partitionBy(col("u"))
    active.withColumn("cohort", min(col("period")).over(w))
      .groupBy(col("cohort"), (col("period") - col("cohort")).as("period_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Rolling active users — the WAU/MAU curve: for each period, how
    * many DISTINCT users were active in the trailing `windowPeriods`
    * periods ending there (widthSeconds=86400 + windowPeriods=7 ⇒
    * weekly actives anchored per day). Exact integer periods via the
    * shared µs contract, cohortRetention's convention.
    *
    * Shape: dedup to (user, period) first — one row per active-
    * period, never per event — then each active-period contributes
    * to its `windowPeriods` trailing anchors via a BOUNDED explode
    * (×7/×30, a constant, not data-sized), then a second dedup on
    * (user, anchor) before the count: a user active on three days of
    * one window still counts once, and after that dedup the count
    * needs no count-distinct (cohortRetention's trick). Three
    * partial-agg shuffles, all on activity-sized data. NEVER a
    * count(DISTINCT) over a sliding window — that plans a per-anchor
    * re-scan.
    *
    * Output: (period, n_active) for every anchor some activity
    * reaches — including up to windowPeriods-1 anchors past the last
    * event (a user active yesterday IS a weekly-active tomorrow);
    * join a calendar if zero-filled or clipped reporting matters. */
  def rollingActiveUsers(df: DataFrame, userCol: String, tsCol: String,
                         widthSeconds: Long = 86400L, windowPeriods: Int = 7): DataFrame = {
    require(widthSeconds > 0, s"widthSeconds must be positive, got $widthSeconds")
    require(windowPeriods >= 1 && windowPeriods <= 1000,
      s"windowPeriods must be in [1,1000] (it multiplies rows), got $windowPeriods")
    val period = ldiv(epochMicros(col(tsCol)), widthSeconds * 1000000L)
    df.select(col(userCol).as("u"), period.as("p")).distinct()
      .select(col("u"),
        explode(sequence(col("p"), col("p") + lit(windowPeriods - 1).cast("long"))).as("period"))
      .distinct()
      .groupBy("period").agg(count(lit(1)).as("n_active"))
  }

  /** Item co-occurrence ("users who did A also did B"): pairs of
    * items sharing at least minUsers distinct users — the basket /
    * co-visitation signal behind related-content retrieval and
    * behavioral clustering.
    *
    * Scale shape: rows reduce to DISTINCT (user, item) first
    * (map-side partial dedup — multiplicity per user is noise for
    * co-occurrence), then ONE self-join keyed on user. Work is
    * Σ_u items_u² — the LSH-bucket shape, bounded by per-user
    * catalog touch, never items²; a power user with a million items
    * is the caller's cap concern (filter first), stated loudly here
    * rather than silently sampled.
    * Output: (item1 < item2, n_users ≥ minUsers). */
  def coOccurrence(df: DataFrame, userCol: String, itemCol: String,
                   minUsers: Int = 1): DataFrame = {
    require(minUsers >= 1, s"minUsers must be >= 1, got $minUsers")
    val ui = df.select(col(userCol).as("__u"), col(itemCol).as("__i")).distinct()
    ui.select(col("__u"), col("__i").as("item1"))
      .join(ui.select(col("__u"), col("__i").as("item2")), Seq("__u"))
      .filter(col("item1") < col("item2"))
      .groupBy("item1", "item2")
      .agg(count(lit(1)).cast("long").as("n_users"))
      .filter(col("n_users") >= minUsers)
  }

  /** First-order Markov transition profile of the event stream: for
    * every (event_type → next event_type) step inside a user's
    * timeline, the step count and the row-normalized transition
    * probability — the behavioral fingerprint that funnels sample at
    * fixed paths and this measures everywhere at once.
    *
    * Per-user ordering is (ts_us, event_id) — a TOTAL order, so the
    * lead is deterministic; a user's last event has no successor and
    * contributes nothing. p = n/total is ONE division of exact
    * integer counts.
    *
    * Scale shape: one user-key window (the lagFeatures shuffle) →
    * one grouped count on (from, to) → a type²-bounded join against
    * per-from totals aggregated from the pair counts themselves (no
    * second corpus pass).
    * Output: (from_type, to_type, n, p). */
  def eventTransitions(df: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val steps = df.select(col("user_id"), col("event_id"),
        lfloorDiv(col("ts"), 1000L).as("ts_us"), col("event_type"))
      .withColumn("__next", lead("event_type", 1).over(byUser))
      .filter(col("__next").isNotNull)
    val pairs = steps.groupBy(col("event_type").as("from_type"),
        col("__next").as("to_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    val totals = pairs.groupBy("from_type")
      .agg(sum(col("n")).cast("long").as("__tot"))
    pairs.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("__tot").cast("double")).as("p"))
  }

  /** Per-user inter-arrival profile: event count, activity span, mean
    * gap, and the largest silent gap — the cadence features behind
    * churn/burst detection and bot filtering (a human's max gap is
    * hours; a cron job's is its period, exactly).
    *
    * Exactness: all times are integer epoch-microseconds; the mean
    * gap needs NO gap summation at all — consecutive gaps telescope,
    * so mean = (last − first)/(n − 1), one IEEE division of exact
    * longs (NULL for single-event users, as is max_gap_us). Only
    * max_gap_us needs the per-user lag pass; ties on ts break by
    * event_id (a TOTAL order, so the lag is deterministic).
    *
    * Scale shape: ONE window over the user key (the lagFeatures
    * shuffle) feeding ONE grouped agg on the same key — AQE coalesces
    * the second exchange away since the partitioning matches. No FP
    * accumulation anywhere.
    * Output: (user_id, n_events, span_us, mean_gap_us, max_gap_us). */
  def interArrivalStats(df: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    df.select(col("user_id"), col("event_id"),
        lfloorDiv(col("ts"), 1000L).as("ts_us"))
      .withColumn("__gap", col("ts_us") - lag("ts_us", 1).over(byUser))
      .groupBy("user_id").agg(
        count(lit(1)).cast("long").as("n_events"),
        min("ts_us").as("__first"), max("ts_us").as("__last"),
        max("__gap").as("max_gap_us"))
      .select(col("user_id"), col("n_events"),
        (col("__last") - col("__first")).as("span_us"),
        when(col("n_events") > 1L,
          (col("__last") - col("__first")).cast("double")
            / (col("n_events") - 1L).cast("double")).as("mean_gap_us"),
        col("max_gap_us"))
  }

  /** Entry/exit profile: for each (first event type, last event type)
    * pair, how many users START their recorded timeline with the one
    * and END with the other — the landing/abandonment fingerprint
    * behind onboarding and churn analysis ("users who enter on view
    * and leave on cart_abandon").
    *
    * First/last are over the sessionize total order (ts_us,
    * event_id) — deterministic under ties. ONE window pass carries
    * both analytics (first/last over an unbounded frame of the same
    * ordering — one sort), then a distinct to user grain and a
    * type²-bounded count.
    * Output: (entry_type, exit_type, n_users). */
  def entryExitProfile(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.select(col("user_id"), lfloorDiv(col("ts"), 1000L).as("ts_us"),
        col("event_id"), col("event_type"))
      .select(col("user_id"),
        first("event_type").over(w).as("entry_type"),
        last("event_type").over(w).as("exit_type"))
      .distinct()
      .groupBy("entry_type", "exit_type")
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** Per-user burstiness: the Fano factor (variance-to-mean ratio) of
    * the user's DAILY event counts — the dispersion axis
    * interArrivalStats' max-gap misses: a metronomic cron job scores
    * ≈ 0 (counts hug their mean), a binge-and-silence human scores
    * ≫ 1. The bot-detection companion to calendarProfile.
    *
    * Exactness: daily counts are exact longs (truncating day buckets,
    * bucketEpoch's oracle convention), and the population
    * variance/mean collapses to integer numerators:
    * fano = (n·Σc² − (Σc)²) / (n·Σc) — exact long operands, ONE IEEE
    * division. Single-active-day users yield NULL (dispersion of one
    * observation is not 0 evidence, it's no evidence).
    *
    * Scale shape: one (user, day) hash agg collapses events, one
    * user-keyed agg of three longs — no windows, no FP accumulation.
    * Output: (user_id, days_active, n_events, mean_daily, fano). */
  def burstiness(df: DataFrame): DataFrame = {
    val daily = df.groupBy(col("user_id"), ldiv(col("ts"), DayNanos).as("day"))
      .agg(count(lit(1)).cast("long").as("c"))
    daily.groupBy("user_id").agg(
        count(lit(1)).cast("long").as("days_active"),
        sum(col("c")).cast("long").as("n_events"),
        sum(col("c") * col("c")).cast("long").as("__ss"))
      .select(col("user_id"), col("days_active"), col("n_events"),
        (col("n_events").cast("double") / col("days_active").cast("double")).as("mean_daily"),
        when(col("days_active") > 1L,
          (col("days_active") * col("__ss") - col("n_events") * col("n_events")).cast("double")
            / (col("days_active") * col("n_events")).cast("double")).as("fano"))
  }

  /** Per-user behavioral diversity: Gini-Simpson index of the user's
    * event-type distribution — the diversity axis of the cadence
    * features (burstiness measures WHEN activity clumps; this
    * measures WHAT it spreads over: a single-action bot scores 0, an
    * organic user samples the whole type alphabet).
    *
    * Simpson, not Shannon, ON PURPOSE — the repo's log-free doctrine
    * (see chiSquareCollocations / tfIdf: ln is libm, last-ulp
    * engine-dependent — Spark's log() is StrictMath.log, which
    * differs from DuckDB's libm ln by 1 ulp at e.g. x=74, measured):
    * D = 1 − Σp² = (n² − Σc²)/n² and the effective type count
    * n²/Σc² are DIVISIONS OF EXACT LONGS — bit-exact on any engine,
    * and rank users identically to entropy for this purpose.
    * Single-type users land on exactly 0 (eff_types exactly 1).
    *
    * Scale shape: one (user, type) hash agg collapses the corpus,
    * one user-keyed agg of two exact longs — no lists, no FP
    * accumulation anywhere.
    * Output: (user_id, n_events, n_types, simpson, eff_types). */
  def typeDiversity(df: DataFrame): DataFrame = {
    val c = df.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("c"))
    c.groupBy("user_id").agg(
        sum(col("c")).cast("long").as("n_events"),
        count(lit(1)).cast("long").as("n_types"),
        sum(col("c") * col("c")).cast("long").as("__ss"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        ((col("n_events") * col("n_events") - col("__ss")).cast("double")
          / (col("n_events") * col("n_events")).cast("double")).as("simpson"),
        ((col("n_events") * col("n_events")).cast("double")
          / col("__ss").cast("double")).as("eff_types"))
  }

  /** Per-user inactivity / churn flags: days since the user's last
    * event, anchored at the CORPUS's own last active day (a pure
    * function of the input — no wall clock, so the oracle replays it
    * and reruns are stable). churned = inactive ≥ churnDays, emitted
    * as 0/1 int.
    *
    * Scale shape: one user-keyed max agg, then a 1-row broadcast of
    * the corpus anchor over it — no second corpus pass, no windows.
    * Output: (user_id, last_day, days_inactive, churned). */
  def inactivity(df: DataFrame, churnDays: Int = 7): DataFrame = {
    require(churnDays >= 1, s"churnDays must be positive, got $churnDays")
    val lastDays = df.groupBy(col("user_id"))
      .agg(max(ldiv(col("ts"), DayNanos)).as("last_day"))
    val anchor = lastDays.agg(max(col("last_day")).as("__amax"))
    lastDays.crossJoin(broadcast(anchor))
      .select(col("user_id"), col("last_day"),
        (col("__amax") - col("last_day")).as("days_inactive"),
        (col("__amax") - col("last_day") >= churnDays.toLong).cast("int").as("churned"))
  }

  /** JSON props extraction + per-type aggregate: the semi-structured
    * column path (get_json_object stays in codegen). */
  def propsAgg(df: DataFrame): DataFrame =
    df.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))

  /** Per-key z-score standardization of a money-like double column —
    * the feature-engineering normalizer ("how unusual is this
    * purchase for its event type"), bit-exact cross-engine where the
    * textbook (x−μ)/σ is not (distributed FP sums of squares are
    * order-dependent; so is a two-pass mean-then-variance).
    *
    * The exactness trick: work in integer cents c = round(100·x).
    * Per key, Σc, Σc² and n are EXACT (integer addition is order-
    * free), and the population z-score algebra collapses to integer
    * numerators: z = (c·n − Σc) / √(n·Σc² − (Σc)²) — two exact
    * operands, one correctly-rounded sqrt, one IEEE division.
    * Degenerate keys (σ = 0 or n = 1) yield NULL, not a division
    * blow-up. The moments accumulate as decimal(38,0), not long: the
    * sf10 scale run tripped the earlier long guard at 2M rows/key
    * ((Σc)² passes 2⁶³ around |Σc| ≈ 3·10⁹), while 38-digit decimal
    * holds n·Σc² for ~10¹² rows/key of $10⁶ values — the DuckDB
    * oracle's HUGEINT-exact sums agree digit for digit, and a value
    * that somehow passes 10³⁸ fails loudly under ANSI decimal
    * overflow instead of wrapping.
    *
    * Scale shape: one partial-agg shuffle on the key for the moment
    * table (3 decimals per key), broadcast back over the scan — the
    * corpus never re-shuffles, and no driver-side guard job runs.
    * Output: input id/key/value + z. */
  def zscoreByKey(df: DataFrame, idCol: String, keyCol: String,
                  valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val dec = cents.cast("decimal(38,0)")
    val moments = df.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(dec).cast("decimal(38,0)").as("__s"),
        sum(dec * dec).cast("decimal(38,0)").as("__ss"))
    val varNum = col("__n") * col("__ss") - col("__s") * col("__s")
    // null-safe key join: the moments table already carries the NULL
    // key's group (groupBy keeps it), so a NULL-keyed row must get
    // its z from that group, not silently vanish (the cumeDistByKey
    // defect class, ADVICE r10)
    df.select(col(idCol), col(keyCol), col(valueCol), cents.as("__c"))
      .join(broadcast(moments.select(col(keyCol).as("__zk"),
        col("__n"), col("__s"), col("__ss"))), col(keyCol) <=> col("__zk"))
      .select(col(idCol), col(keyCol), col(valueCol),
        when(col("__n") > 1L && varNum > 0L,
          (col("__c") * col("__n") - col("__s")).cast("double")
            / sqrt(varNum.cast("double"))).as("z"))
  }

  private val DayNanos = 86400L * 1000000000L

  /** Trailing N-day rolling activity per user: for each ACTIVE
    * (user, day), the event count that day plus the window count /
    * active-day count / value sum over the trailing `windowDays`
    * CALENDAR days — the standard "7-day trailing engagement"
    * feature. A RANGE frame (not ROWS) makes the frame calendar-
    * correct across gaps: a user silent for a week contributes a
    * window covering only its own day.
    *
    * Exactness: days are exact integer epoch-day buckets (truncating
    * division, mirroring the oracle's `//` — see bucketEpoch);
    * window sums add exact longs (counts) and integer cents (the
    * fixed-point value trick), so ordering inside the frame can't
    * perturb anything; ONE final /100.0 per row.
    *
    * Scale shape: one grouped daily aggregate (map-side partial agg
    * collapses the raw events), then ONE window over (user_id, day)
    * — rows entering the window stage are user-days, not events, so
    * the sort behind the window is over the already-collapsed
    * series. No self-joins (the naive trailing-window phrasing is an
    * O(days²) range self-join).
    *
    * Output: (user_id, day, n_events, roll_events, roll_days,
    * roll_value) — active days only. */
  def rollingDaily(df: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = df.groupBy(col("user_id"),
        ldiv(col("ts"), DayNanos).as("day"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("__cents"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rangeBetween(-(windowDays - 1L), 0L)
    daily.select(col("user_id"), col("day"), col("n_events"),
      sum(col("n_events")).over(w).cast("long").as("roll_events"),
      count(lit(1)).over(w).cast("long").as("roll_days"),
      (sum(col("__cents")).over(w).cast("long") / 100.0).as("roll_value"))
  }

  /** Hopping (overlapping tumbling) window aggregate per event type:
    * windows of `widthSeconds` sliding every `stepSeconds` (width must
    * be a step multiple), each event contributing to exactly
    * width/step windows — the smoothed trend view tumblingByType
    * cannot give (a spike on a tumbling boundary splits across two
    * buckets; hopping sees it whole in every covering window).
    *
    * Exactness: window starts are exact integers — FLOOR-divide the
    * µs epoch by the step and take the `r = width/step` consecutive
    * starts ending there (start = (fd−i)·step, i ∈ [0, r)); every
    * start is ≡ 0 (mod step) and covers the event, both engines
    * agree bit-for-bit including pre-1970 (floor, not truncate).
    * Value sums use the fixed-point cents trick (one /100.0 per
    * output row).
    *
    * Scale shape: ONE bounded explode (×r, a constant ≤ 64 — loudly
    * guarded since it multiplies rows) feeding ONE hash aggregate
    * with map-side partial agg. No self-joins, no windows, no range
    * joins — the naive phrasing (events × window table) is a range
    * join that rescans the corpus per window.
    *
    * Output: (bucket epoch-seconds window START, event_type, n,
    * sum_value). */
  def hoppingByType(df: DataFrame, widthSeconds: Long, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    require(widthSeconds % stepSeconds == 0,
      s"width ($widthSeconds s) must be a multiple of step ($stepSeconds s)")
    val r = widthSeconds / stepSeconds
    require(r >= 1 && r <= 64,
      s"width/step = $r multiplies every row — keep it in [1, 64]")
    val stepUs = stepSeconds * 1000000L
    val fd = lfloorDiv(epochMicros(col("ts")), stepUs)
    df.select(col("event_type"), col("value"),
        explode(sequence(fd - lit(r - 1L), fd)).as("__w"))
      .groupBy((col("__w") * stepSeconds).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100)) / 100.0).as("sum_value"))
  }

  /** Top event-type n-gram sequences: the most common length-n runs
    * of CONSECUTIVE event types inside a user's timeline — the
    * sequence-mining read of the stream (eventTransitions is the
    * n=2 marginal; this surfaces whole paths like
    * "view > click > purchase" with exact support counts).
    *
    * Per-user order is (ts_us, event_id) — the sessionize total-order
    * contract, so every lead is deterministic; a run must be fully
    * inside one user's timeline (the last n−1 events of each user
    * anchor nothing). Ranking is (support desc, seq asc) — a total
    * order, so the top-k cut is stable cross-engine.
    *
    * Scale shape: ONE user-key window carrying n−1 leads (n is a
    * small constant), one hash aggregate on the type-path string
    * (type^n-bounded), then TakeOrderedAndProject for the k-row head
    * — never a global sort of the corpus.
    * Output: (seq "a > b > c", n). */
  def typeSequences(df: DataFrame, n: Int = 3, topK: Int = 50): DataFrame = {
    require(n >= 2 && n <= 5, s"sequence length must be in [2, 5], got $n")
    require(topK >= 1, s"topK must be positive, got $topK")
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val base = df.select(col("user_id"), col("event_id"),
      lfloorDiv(col("ts"), 1000L).as("ts_us"), col("event_type"))
    val withLeads = (1 until n).foldLeft(base) { (d, i) =>
      d.withColumn(s"__t$i", lead("event_type", i).over(byUser))
    }
    // every part must be non-null, not just the last lead (review
    // r15): lead(n−1) non-null proves the intermediate ROWS exist,
    // but a NULL event_type VALUE on one of them passed the old gate
    // and concat_ws silently dropped it — counting a corrupted
    // shorter path as an n-gram and conflating it with genuine
    // (n−1)-grams downstream
    val parts = col("event_type") +: (1 until n).map(i => col(s"__t$i"))
    withLeads.filter(parts.map(_.isNotNull).reduce(_ && _))
      .select(concat_ws(" > ", parts: _*).as("seq"))
      .groupBy("seq").agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("seq"))
      .limit(topK)
  }

  /** Calendar seasonality profile: event count + exact value sum per
    * (ISO day-of-week, hour-of-day) cell — the 7×24 activity heatmap
    * behind load forecasting and bot detection (humans have a diurnal
    * cycle; a crawler is flat).
    *
    * Exactness: both coordinates are pure integer arithmetic on the
    * µs epoch — epoch day 0 (1970-01-01) was a Thursday, so
    * isodow = pmod(day + 3, 7) + 1 lands Monday=1..Sunday=7 exactly
    * like the oracle's isodow(); hour = pmod(epoch-hours, 24). FLOOR
    * division + pmod keeps pre-1970 instants on the same cell both
    * engines. Value sums are exact cents.
    *
    * Scale shape: ONE hash aggregate over the scan onto at most 168
    * cells — map-side partials collapse everything before the
    * exchange. Output: (isodow 1-7, hour 0-23, n, sum_value). */
  def calendarProfile(df: DataFrame): DataFrame = {
    val us = epochMicros(col("ts"))
    val day = lfloorDiv(us, 86400000000L)
    df.groupBy(
        (pmod(day + lit(3L), lit(7L)) + 1L).as("isodow"),
        pmod(lfloorDiv(us, 3600000000L), lit(24L)).as("hour"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100)) / 100.0).as("sum_value"))
  }

  /** Regularize each user's activity onto a dense daily grid:
    * zero-fill every silent day between the user's first and last
    * active day — the resample step before any fixed-step sequence
    * model (lag matrices, burst detection, cadence autocorrelation)
    * that treats "no events" as a real observation rather than a
    * missing row.
    *
    * Users whose span reaches `maxSpanDays` are dropped (guarded,
    * not exploded): one corrupt 1970-epoch row would otherwise
    * manufacture a 20k-row sequence per user at scale. The oracle
    * mirrors the same guard.
    *
    * Scale shape: daily collapse first (events → user-days), a
    * per-user span aggregate, ONE bounded sequence-explode (≤
    * maxSpanDays rows per user, arriving pre-partitioned by user),
    * and a left join back to the daily counts on the SAME
    * (user, day) key — AQE coalesces the aligned exchanges. Output
    * is Σ spans rows, linear in users × span, never events².
    *
    * Output: (user_id, day, n_events) — dense per-user grid. */
  def gapFillDaily(df: DataFrame, maxSpanDays: Int = 3660): DataFrame = {
    val daily = df.groupBy(col("user_id"),
        ldiv(col("ts"), DayNanos).as("day"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    val span = daily.groupBy("user_id")
      .agg(min("day").as("__d0"), max("day").as("__d1"))
      .filter(col("__d1") - col("__d0") < lit(maxSpanDays.toLong))
    val grid = span.select(col("user_id"),
      explode(sequence(col("__d0"), col("__d1"))).as("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** Time-decayed popularity: per event type, Σ_days count(d) /
    * (1 + age_days(d)) — recency-weighted activity with a POLYNOMIAL
    * kernel chosen deliberately over the textbook exponential one:
    * exp() diverges by an ulp between Spark's StrictMath and DuckDB's
    * libm (the typeDiversity finding), while 1/(1+age) is one IEEE
    * division per day cell. The per-type sum folds the ≤span day
    * weights in sorted order (foldSum contract) — bit-exact
    * cross-engine and O(days) per type, since events collapsed to the
    * day grain first. Age anchors on the corpus' last day (1-row
    * broadcast). Output: (event_type, n_days, decayed_score). */
  def decayedPopularity(df: DataFrame): DataFrame = {
    val daily = df.groupBy(col("event_type"), dayBucket(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val anchor = daily.agg(max(col("day")).as("__dmax"))
    daily.crossJoin(broadcast(anchor))
      .withColumn("__w", col("cnt").cast("double")
        / (lit(1.0) + (col("__dmax") - col("day")).cast("double")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        graft.functions.VectorOps.sortedSum(col("__w")).as("decayed_score"))
  }

  /** Per-type daily activity trend: exact OLS slope + intercept of
    * count-per-day against the epoch-day index — "is this event
    * stream growing, and how fast per day" as one number per type,
    * with the same exactness contract as Curation.pearsonByKey: the
    * five moments (n, Σx, Σy, Σx², Σxy) are exact longs, the
    * normal-equation numerators run in decimal(38,0) (mirrored by
    * the oracle's HUGEINT), and each output takes ONE double division
    * (intercept: the pinned (Σy − (num/den)·Σx)/n order). Degenerate
    * types (single day) yield NULL.
    *
    * Scale shape: day-grain collapse (map-side combined), then a
    * five-moment agg to a #types-sized result. No windows, no second
    * pass. Output: (event_type, n_days, slope, intercept). */
  def dailyTrend(df: DataFrame): DataFrame = {
    val daily = df.groupBy(col("event_type"), dayBucket(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val m = daily.groupBy("event_type").agg(
      count(lit(1)).cast("long").as("n_days"),
      sum(col("day")).cast("long").as("__sx"),
      sum(col("cnt")).cast("long").as("__sy"),
      sum(col("day") * col("day")).cast("long").as("__sxx"),
      sum(col("day") * col("cnt")).cast("long").as("__sxy"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val num = dec(col("n_days")) * dec(col("__sxy")) - dec(col("__sx")) * dec(col("__sy"))
    val den = dec(col("n_days")) * dec(col("__sxx")) - dec(col("__sx")) * dec(col("__sx"))
    m.select(col("event_type"), col("n_days"),
      when(den > 0, num.cast("double") / den.cast("double")).as("slope"),
      when(den > 0,
        (col("__sy").cast("double")
          - (num.cast("double") / den.cast("double")) * col("__sx").cast("double"))
          / col("n_days").cast("double")).as("intercept"))
  }

  /** SCD Type-2 build from the event stream: collapse each user's
    * timeline into validity intervals of their CURRENT event_type —
    * one row per run of consecutive identical types, [valid_from,
    * valid_to) half-open in exact µs, valid_to NULL on the open
    * (current) run. The dimension-table shape a warehouse keeps for
    * "what was this user's state at time t" point-in-time joins
    * (Kimball's type-2 slowly-changing dimension, built here from the
    * raw change log in one pass).
    *
    * Runs via the gaps-and-islands idiom sessionize uses: a change
    * flag against lag(type), running-sum to a version number, one
    * hash-agg per (user, version), then lead(valid_from) closes each
    * interval. All three windows/aggs partition on user_id — ONE
    * shuffle key end-to-end, and the version window is over the
    * runs relation (rows = runs, not events). Per-user order is
    * (ts_us, event_id), the sessionize total-order contract.
    *
    * Output: (user_id, version, event_type, valid_from_us,
    * valid_to_us, n_events, is_current). */
  def scd2Intervals(df: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val byVersion = Window.partitionBy("user_id").orderBy("version")
    val base = df.select(col("user_id"), col("event_id"),
      lfloorDiv(col("ts"), 1000L).as("ts_us"), col("event_type"))
    base
      .withColumn("__prev", lag("event_type", 1).over(byUser))
      .withColumn("__chg",
        when(col("__prev").isNull || col("__prev") =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("version", sum("__chg").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .groupBy(col("user_id"), col("version"))
      // event_type is constant within a run; min() is just the
      // agg-shaped way to carry it through the groupBy
      .agg(min("event_type").as("event_type"),
        min("ts_us").as("valid_from_us"),
        count(lit(1)).cast("long").as("n_events"))
      .withColumn("valid_to_us", lead("valid_from_us", 1).over(byVersion))
      .withColumn("is_current", col("valid_to_us").isNull.cast("int"))
      .select("user_id", "version", "event_type", "valid_from_us",
        "valid_to_us", "n_events", "is_current")
  }

  /** Kaplan-Meier conversion-survival curve (Kaplan & Meier 1958):
    * S(d) = Π_{dᵢ ≤ d} (1 − eᵢ/nᵢ) over event days, where eᵢ =
    * conversions at day dᵢ and nᵢ = the at-risk set (users whose
    * observed duration ≥ dᵢ) — "what fraction of users are still
    * unconverted d days after their first event", with users who
    * never convert correctly CENSORED at the corpus horizon rather
    * than dropped (dropping them is the classic retention-analysis
    * bias this estimator exists to fix).
    *
    * Duration = days from the user's first event to their first
    * `convType` event; censor time = days to the global max
    * timestamp (one-row broadcast anchor, like inactivity's). Users
    * at/over `maxDays` are dropped loudly-documented, mirroring
    * gapFillDaily's span guard.
    *
    * Exactness: eᵢ/nᵢ are exact longs; each prefix product is the
    * identical left-assoc IEEE chain on both engines — the day-grain
    * factor list ships as ONE sorted array and every output row
    * folds its own prefix (O(days²) multiplies, days ≤ maxDays —
    * driver-bounded, corpus-independent).
    *
    * Scale shape: events collapse to per-user (t0, tc) in one agg;
    * durations collapse to the DAY-GRAIN table (≤ maxDays rows);
    * the only windows/folds run on that bounded table, never the
    * corpus. Output: (day, n_event, n_risk, survival), event days
    * only. */
  def kaplanMeier(df: DataFrame, convType: String = "purchase",
                  maxDays: Int = 3660): DataFrame = {
    require(maxDays >= 1 && maxDays <= 36600,
      s"maxDays must be in [1, 36600], got $maxDays")
    val us = epochMicros(col("ts"))
    val per = df.groupBy(col("user_id")).agg(
      min(us).as("__t0"),
      min(when(col("event_type") === convType, us)).as("__tc"))
    val anchor = df.agg(max(us).as("__amax"))
    val durations = per.crossJoin(broadcast(anchor)).select(
      when(col("__tc").isNotNull,
        lfloorDiv(col("__tc") - col("__t0"), 86400000000L))
        .otherwise(lfloorDiv(col("__amax") - col("__t0"), 86400000000L)).as("day"),
      col("__tc").isNotNull.cast("long").as("__ev"))
      .filter(col("day") < lit(maxDays.toLong))
    // day-grain collapse: ≤ maxDays rows from here on
    val days = durations.groupBy(col("day"))
      .agg(sum(col("__ev")).cast("long").as("n_event"),
        count(lit(1)).cast("long").as("__n_total"))
    // at-risk set by reverse cumulative count — a window over the
    // BOUNDED day-grain relation (≤ maxDays rows), not the corpus.
    // __N (total subjects) is Σ __n_total over the SAME bounded
    // relation (review r15: it was previously a second aggregate over
    // `durations`, silently re-running the corpus-scale per-user
    // groupBy + crossJoin just to count rows the day-grain table
    // already holds)
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTotal = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val risky = days
      .withColumn("__cum", sum(col("__n_total")).over(w))
      .withColumn("__N", sum(col("__n_total")).over(wTotal))
      .withColumn("n_risk", col("__N") - col("__cum") + col("__n_total"))
    // one sorted factor array (day asc) shipped to every event-day
    // row; each row folds its own prefix — identical left-assoc
    // chains cross-engine
    val factors = risky.filter(col("n_event") > 0L)
      .agg(array_sort(collect_list(struct(col("day"), (lit(1.0) -
        col("n_event").cast("double") / col("n_risk").cast("double"))
        .as("f")))).as("__fs"))
    risky.filter(col("n_event") > 0L)
      .crossJoin(broadcast(factors))
      .select(col("day"), col("n_event"), col("n_risk"),
        aggregate(filter(col("__fs"), x => x("day") <= col("day")),
          lit(1.0), (acc, x) => acc * x("f")).as("survival"))
  }

  /** L28-style engagement histogram: how many distinct days each user
    * was active in the trailing `windowDays`-day window ending at the
    * corpus' last active day (inclusive), then the user-count per
    * activity level — the engagement-depth curve (casual vs power
    * users) growth teams read weekly, and the mixture signal a
    * curation pipeline uses to weight per-user event streams.
    *
    * Exactness: days are the ldiv truncating day-bucket convention
    * (burstiness/gapFillDaily's key); the anchor is a 1-row broadcast
    * like inactivity's. Only users active inside the window appear
    * (days_active ≥ 1): the zero bucket would need a universe
    * definition the event log alone doesn't carry.
    *
    * Scale shape: events collapse map-side to (user, day) rows, the
    * 1-row anchor broadcasts, then two hash aggregates (user-sized,
    * then ≤ windowDays rows). Never a count-distinct over raw events.
    * Output: (days_active, n_users). */
  def engagementHistogram(df: DataFrame, windowDays: Int = 28): DataFrame = {
    require(windowDays >= 1 && windowDays <= 366,
      s"windowDays must be in [1, 366], got $windowDays")
    val userDays = df.groupBy(col("user_id"),
        ldiv(col("ts"), DayNanos).as("day"))
      .agg(count(lit(1)).as("__n"))
    val anchor = userDays.agg(max(col("day")).as("__dmax"))
    userDays.crossJoin(broadcast(anchor))
      .filter(col("day") > col("__dmax") - lit(windowDays.toLong))
      .groupBy("user_id").agg(count(lit(1)).cast("long").as("days_active"))
      .groupBy("days_active").agg(count(lit(1)).cast("long").as("n_users"))
  }
}
