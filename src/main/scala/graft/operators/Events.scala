package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Deterministic.{rd, qavg, qsum}
import graft.sources.Tables

/** Batch analytics over the `events` stream table (event_id, ts, user_id,
  * event_type, value, props JSON). The reference is strictly batch text
  * (SURVEY.md §2.3 — "Streaming: none"); this module supplies the
  * event-time operators (windowed aggregation, sessionization, JSON
  * extraction) in their batch form. graft.streaming.EventStream runs the
  * same computations incrementally with watermarks.
  *
  * Scale: every query here shuffles on (window/user) keys after map-side
  * partial aggregation; JSON parsing is a codegen'd expression evaluated
  * once per row before the shuffle. Session windows use Spark's native
  * `session_window`, which merges per-key sorted runs without a
  * quadratic self-join.
  */
object Events {

  /** JSON property extraction + per-type rollup: the `props` column is
    * schemaless JSON; `get_json_object` pushes extraction map-side. */
  def jsonStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        rd(qavg(col("value"), 6), 4).as("avg_value"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** Tumbling 1-hour event-time windows per event type. */
  def tumblingHourly(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), rd(qsum(col("value"), 6), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Sliding 1-hour windows every 30 minutes (each event lands in 2). */
  def slidingHourly(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), rd(qsum(col("value"), 6), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))
      .orderBy("window_start")

  /** Gap-based sessionization (30-minute inactivity gap) via Spark's
    * native session_window — per-user sessions with start/last/size. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_last"),
        rd(qsum(col("value"), 6), 4).as("session_value"))
      .select("user_id", "session_start", "session_last", "n_events", "session_value")
      .orderBy("user_id", "session_start")

  /** Per-user activity profile. */
  def userStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("event_type")).as("n_types"),
        min("ts").as("first_ts"),
        max("ts").as("last_ts"),
        rd(qavg(col("value"), 6), 4).as("avg_value"))
      .orderBy("user_id")

  /** Sketch aggregation: HyperLogLog++ distinct-user estimates next to
    * exact counts (the exact column doubles as the accuracy witness in
    * tests; HLL itself is not portably oracle-able). At scale the sketch
    * is mergeable — partial aggregation ships fixed-size registers, not
    * user sets. */
  def approxDistinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        count_distinct(col("user_id")).as("exact_users"))
      .orderBy("event_type")

  /** MERGEABLE-sketch distinct rollup — the incremental-stats
    * architecture at 100 TB: per-(type, day) HyperLogLog sketches built
    * once (in production: stored as the day closes, never recomputed),
    * then UNIONED across days for the corpus-wide distinct — the union
    * touches only fixed-size sketch blobs, not events. This is what
    * separates `hll_sketch_agg`/`hll_union_agg` from a plain
    * `approx_count_distinct`: the daily sketches are reusable artifacts
    * (any date-range distinct is a union over them), and late data
    * merges by re-sketching one day, not rescanning history. The exact
    * count rides along as the accuracy witness; sketch estimates are
    * engine-specific (rows-only driver check; EventsSpec-side assertions
    * in AsOfJoinSpec bound error <5% and prove union-vs-direct sketch
    * equality — the mergeability contract itself). */
  def distinctUsersViaSketchRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sketch"))
    val merged = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        expr("cast(hll_sketch_estimate(hll_union_agg(sketch)) as bigint)")
          .as("approx_users"))
    val exact = ev.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select("event_type", "n_days", "approx_users", "exact_users")
      .orderBy("event_type")
  }

  /** Pivot: one column per event type with per-user counts. Explicit
    * pivot values keep the schema static (no extra distinct-values job
    * and a plan that scales like any other agg). */
  def userTypePivot(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .pivot("event_type", types)
      .count()
      .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  /** Exact interpolated percentiles of lineitem quantity per returnflag
    * (quantities are integral, so interpolation midpoints are binary-
    * exact and engine-identical). */
  def quantityPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.25)").as("p25_qty"),
        expr("percentile(l_quantity, 0.75)").as("p75_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"))
      .orderBy("l_returnflag")

  /** Range join, time-bucketed: pairs of a user's events within
    * `gapMinutes` of each other. The naive `|a.ts − b.ts| ≤ g` join is a
    * per-key cross product; the scalable shape joins on (user, coarse
    * time bucket) with one side replicated to its 3 adjacent buckets,
    * then filters exactly — candidates are bounded by bucket occupancy,
    * not by per-user event counts squared. */
  def nearbyEventPairs(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 5,
      maxCandidatePairs: Long = defaultCandidateBudget): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .withColumn("bucket", expr(s"us div ${gapUs}L"))
    // OUTPUT-CONTRACT guard (r11 skew sweep): the bucket join bounds
    // candidates by OCCUPANCY, and on a Zipf corpus occupancy is the
    // hazard — the skewed-1000× grid put ~10⁶ same-timestamp events on
    // one (user, bucket) and this query ground for 272 s producing
    // ~3×10⁹ pairs that ARE its contract. Price the candidate count
    // exactly from the (user, bucket) histogram (Σ nₐ·n_b over adjacent
    // buckets — occupancy-sized frames, no event join) and refuse past
    // budget; the linear answers are [[interarrival]] (consecutive
    // gaps) / [[sessionize]]. Memoized per (corpus, gap): the stat a
    // catalog would keep.
    val key = (graft.sources.ArtifactCache.fingerprint(
      spark, s"$sfDir/events.parquet"), gapMinutes)
    val est = graft.sources.Memo.once(candidateEstimateCache, key) {
      val occ = ev.groupBy("user_id", "bucket").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val occB = occ.select(col("user_id"), col("n").as("n_b"),
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1))
          .as("bucket"))
      occ.join(occB, Seq("user_id", "bucket"))
        .agg(coalesce(sum(col("n") * col("n_b")), lit(0L)))
        .head().getLong(0)
    }
    if (est > maxCandidatePairs)
      throw new PairExplosionException(
        s"nearbyEventPairs(gap=${gapMinutes}m) would examine ~$est candidate " +
          s"pairs (budget $maxCandidatePairs, override via " +
          "SPARK_GRAFT_MAX_PAIRS or the maxCandidatePairs parameter). " +
          "All pairs within a gap is quadratic in per-bucket occupancy BY " +
          "CONTRACT; on skewed corpora consume the bounded pair interface " +
          "Events.nearbyEventTopM (per-event top-m neighbors, <= N*m " +
          "output at any skew) or the linear interfaces " +
          "Events.interarrival (consecutive gaps) / Events.sessionize.")
    val a = ev.select(col("user_id"), col("event_id").as("event_a"),
      col("us").as("us_a"), col("bucket"))
    val b = ev.select(col("user_id"), col("event_id").as("event_b"),
      col("us").as("us_b"),
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("bucket"))
    a.join(b, Seq("user_id", "bucket"))
      .filter(col("event_a") < col("event_b") &&
        abs(col("us_b") - col("us_a")) <= gapUs)
      .select(col("user_id"), col("event_a"), col("event_b"),
        (col("us_b") - col("us_a")).as("diff_us"))
      .orderBy("user_id", "event_a", "event_b")
  }

  /** BOUNDED sibling of [[nearbyEventPairs]] (r14, the
    * `dedup_semantic_topm` device applied to the range join): per
    * event, its `m` nearest-in-time neighbors among the SAME user's
    * events within `gapMinutes` — ≤ N·m output rows at ANY key skew,
    * so a Zipf corpus gets its pairs without raising the pair budget
    * (on the skew-1000× grid the unbounded form refuses at ~10⁹
    * candidates; this form's output is bounded by construction and
    * needs no guard at all).
    *
    * Exactness contract: candidates are the m predecessors and m
    * successors in the per-user (ts, event_id) order — the j-th
    * nearest neighbor by |Δt| (j ≤ m) is always among the j nearest
    * predecessors or successors, so for distinct timestamps this IS
    * the exact |Δt| top-m. Under timestamp TIES the candidate window
    * is positional (ties ranked by event_id), which both engines
    * replay identically — determinism over tie-order cleverness.
    * Final ranking inside the candidate set is (|Δt|, event_b).
    *
    * Scale shape: ONE per-user window pass over (user_id, event_id,
    * us) — 24-byte rows, so even a 10⁶-event hot user is ~24 MB in one
    * sort task, vs the unbounded join landing 10¹² candidate PAIRS on
    * that key. Everything after the lag/lead projection is row-local:
    * candidate structs → filter(gap) → array_sort → slice(m) →
    * explode, all codegen HOFs. Output ≤ N·m rows. */
  def nearbyEventTopM(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 5, m: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m >= 1, "need m >= 1")
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val withCands = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("cands", array((1 to m).flatMap(k => Seq(
        struct(abs(lag("us", k).over(w) - col("us")).as("adiff"),
          lag("event_id", k).over(w).as("event_b"),
          (lag("us", k).over(w) - col("us")).as("diff_us")),
        struct(abs(lead("us", k).over(w) - col("us")).as("adiff"),
          lead("event_id", k).over(w).as("event_b"),
          (lead("us", k).over(w) - col("us")).as("diff_us")))): _*))
    withCands
      .select(col("user_id"), col("event_id").as("event_a"),
        explode(expr(
          // struct sort is lexicographic in field order: (adiff,
          // event_b) — the documented final ranking
          s"slice(array_sort(filter(cands, c -> c.event_b IS NOT NULL AND c.adiff <= ${gapUs}L)), 1, $m)"))
          .as("nb"))
      .select(col("user_id"), col("event_a"), col("nb.event_b"),
        col("nb.diff_us"))
      .orderBy("user_id", "event_a", "event_b")
  }

  /** Candidate budget shared with the dedup pair views' convention
    * (same env override) — see [[Dedup.defaultPairBudget]]'s rationale.
    * Candidates, not output: the bound prices the JOIN's examined
    * pairs, the quantity that exploded on the skew grid. */
  private[graft] def defaultCandidateBudget: Long =
    sys.env.getOrElse("SPARK_GRAFT_MAX_PAIRS", "50000000").toLong

  // per-key future (graft.sources.Memo): the occupancy aggregate runs
  // outside any map bin lock (the computeIfAbsent hazard — ADVICE r12)
  private val candidateEstimateCache =
    graft.sources.Memo.newCache[(String, Int), Long]

  /** Unpivot (wide → long): per-returnflag metric columns melted into
    * (returnflag, metric, value) rows — the inverse of pivot. */
  def lineitemUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        sum("l_quantity").as("total_qty"),
        qsum(col("l_extendedprice"), 2).as("total_price"),
        rd(qavg(col("l_discount"), 6), 4).as("mean_discount"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("total_qty"), col("total_price"), col("mean_discount")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** Stratified sampling: per-stratum Bernoulli fractions drawn from
    * the seeded-md5 uniform (first 8 hex digits of md5("ss0|event_id")
    * as an integer in [0, 2³²), kept iff u < fraction·2³²) — the same
    * device as [[graft.operators.TextAnalysis.qualitySample]], chosen
    * over `df.stat.sampleBy` because engine RNG is not replayable: the
    * draw here is a pure per-row function of (seed, event_id), so it
    * survives re-runs, repartitioning and engine changes, and the
    * DuckDB oracle reproduces membership exactly. Map-only, no
    * shuffle; per-stratum proportions asserted in tests. */
  def stratifiedSample(spark: SparkSession, sfDir: String,
      seed: String = "ss0"): DataFrame = {
    val fractions = Map("click" -> 0.5, "view" -> 0.25, "purchase" -> 1.0,
      "error" -> 0.1, "signup" -> 0.0)
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col("event_type") === k, lit(f)).otherwise(acc)
    }
    val u = conv(substring(
      md5(concat(lit(s"$seed|"), col("event_id").cast("string"))), 1, 8),
      16, 10).cast("long")
    Tables.events(spark, sfDir)
      .filter(u < frac * lit(4294967296.0))
      .select("event_id", "event_type", "user_id")
      .orderBy("event_id")
  }

  /** Hourly anomaly detection per event type: z-score of each hour's
    * count against the type's distribution. Moments are computed from
    * EXACT integer sums (Σc, Σc², n) rather than stddev_samp — Welford
    * accumulation is summation-order-dependent and would diverge from
    * the oracle at rounding boundaries; the closed form is
    * partition-count-independent. */
  def hourlyAnomalies(spark: SparkSession, sfDir: String,
      zThreshold: Double = 2.0): DataFrame = {
    import graft.functions.Deterministic.rd
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    // sums stay integer (exact, order-independent); products are taken
    // AFTER casting to double — n_hours*s2 and s1*s1 would overflow Long
    // at real event volumes, and the double spelling is IEEE-identical
    // in the DuckDB oracle
    val moments = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum("n").as("s1"),
        sum(col("n") * col("n")).as("s2"))
      .select(col("event_type"),
        (col("s1").cast("double") / col("n_hours")).as("mean_n"),
        sqrt((col("n_hours").cast("double") * col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double")) /
          (col("n_hours").cast("double") * (col("n_hours") - 1).cast("double"))).as("std_n"))
    hourly.join(moments, Seq("event_type"))
      .select(col("event_type"), col("hour"), col("n"),
        rd((col("n") - col("mean_n")) / col("std_n"), 4).as("z"))
      .filter(abs(col("z")) >= zThreshold)
      .orderBy("event_type", "hour")
  }

  /** Dense hourly series with gap filling: every (event_type, hour) cell
    * across the corpus span, zero-filled where no events landed —
    * sequence generation + dimension product + left join. Both generated
    * sides are bounded (hours × types), so the product is a broadcast of
    * dimensions, not a data explosion. */
  def denseHourlyCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
    val hours = ev.agg(min("hour").as("mn"), max("hour").as("mx"))
      .select(explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("hour"))
    val types = ev.select("event_type").distinct()
    val counts = ev.groupBy("event_type", "hour").agg(count(lit(1)).as("cnt"))
    hours.crossJoin(broadcast(types))
      .join(counts, Seq("event_type", "hour"), "left_outer")
      .select(col("event_type"), col("hour"),
        coalesce(col("cnt"), lit(0L)).as("n"))
      .orderBy("event_type", "hour")
  }

  /** Fixed-width histogram of order values — the binning operator class.
    * Bin ids are exact integer arithmetic; one partial-agged shuffle. */
  def orderValueHistogram(spark: SparkSession, sfDir: String,
      binWidth: Double = 25000.0): DataFrame =
    Tables.orders(spark, sfDir)
      .select(floor(col("o_totalprice") / binWidth).cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), (col("bin") * binWidth).as("bin_low"), col("n"))
      .orderBy("bin")

  /** Top event bursts: highest-count (user, hour) cells — window over an
    * aggregated (already small) frame. */
  def topUserHours(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("user_id"), asc("hour"))
      .limit(k)

  /** Ordered conversion funnel with per-stage attribution windows:
    * stage 1 = first `view` per user; stage 2 = first `click` within
    * `windowHours` of that view; stage 3 = first `purchase` within
    * `windowHours` of that click — the funnel report of every
    * product-analytics engine, with the attribution-window constraint
    * that makes it an ordered sequence query rather than a set
    * intersection. Scale: each stage is a filtered scan (event_type
    * pushed to parquet) collapsed to ≤1 row per user BEFORE the next
    * stage joins on user_id, so no join input ever exceeds |users| and
    * every shuffle shares the user_id key; output is one row per
    * stage. */
  def funnel(spark: SparkSession, sfDir: String, windowHours: Int = 1): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("user_id", "event_type", "ts")
    val win = expr(s"INTERVAL $windowHours HOUR")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy("user_id").agg(min("ts").as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
      .filter(col("ts") > col("t2") && col("ts") <= col("t2") + win)
      .groupBy("user_id").agg(min("ts").as("t3"))
    def stageRow(df: DataFrame, stage: Int, tpe: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(stage).as("stage"), lit(tpe).as("event_type"), col("n_users"))
    stageRow(v, 1, "view")
      .unionAll(stageRow(c, 2, "click"))
      .unionAll(stageRow(p, 3, "purchase"))
      .orderBy("stage")
  }

  /** Daily active users next to a rolling `windowDays`-day distinct
    * user count. Rolling DISTINCT does not decompose as a window
    * function over daily partials (users repeat across days). The
    * scale-safe form is INTERVAL-DELTA counting: a user is counted on
    * report day D iff D lies in the union of that user's
    * `[activity_day, activity_day + W - 1]` coverage intervals, so
    * merge each user's intervals (a new interval starts when the gap
    * from the previous activity day is ≥ W — smaller gaps overlap, and
    * back-to-back intervals need no merge because they don't
    * double-count), emit +1 at each merged start and −1 one past each
    * merged end, and prefix-sum the per-day deltas. Cost: ONE
    * user-keyed window over the collapsed (user, day) table plus an
    * aggregation down to calendar-day rows (≤ |days| + |intervals|
    * distinct days, all calendar-bounded) — no ×W row replication and
    * no W·|user-days|-wide distinct. The earlier replicate-×W-then-
    * count_distinct form went super-linear in its second decade for
    * exactly that distinct (62 M-key partial aggregate at 100×,
    * measured 22 s regardless of heap size; this form reads 1.7 s).
    * The tiny global prefix-sum window runs over calendar-day rows
    * only. Output rows = observed days, identical to the naive form. */
  def rollingActiveUsers(spark: SparkSession, sfDir: String,
      windowDays: Int = 7): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val intervals = ud
      .withColumn("prev", lag("day", 1).over(w))
      .withColumn("new_int",
        when(col("prev").isNull ||
          datediff(col("day"), col("prev")) >= windowDays, 1L).otherwise(0L))
      .withColumn("int_id", sum("new_int")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "int_id")
      .agg(min("day").as("s"), max("day").as("e"))
    val deltas = intervals
      .select(col("s").as("day"), lit(1L).as("delta"))
      .unionByName(intervals
        .select(date_add(col("e"), windowDays).as("day"), lit(-1L).as("delta")))
      .groupBy("day").agg(sum("delta").as("delta"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    // running sum over the union of delta days and observed days (the
    // frame is calendar-day-sized, so the single-partition window is a
    // report-level sort, not a corpus one); keep observed days only
    val wd = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .join(dau, Seq("day"), "full_outer")
      .withColumn("rolling_users", sum(coalesce(col("delta"), lit(0L))).over(wd))
      .filter(col("dau").isNotNull)
      .select(col("day"), col("dau"), col("rolling_users"))
      .orderBy("day")
  }

  /** Value-outlier report per event type: counts and mass outside the
    * Tukey fence `[p25 − 1.5·IQR, p75 + 1.5·IQR]` — the standard
    * instrumentation-bug detector (a fat outlier share on one event
    * type usually means a unit change or a bot). Quartiles come from
    * the exact percentile agg per type (the [[quantityPercentiles]]
    * parity device, group-bounded); the fence filter is a second
    * map-only pass. */
  def valueOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("event_type", "value")
    val fences = ev.groupBy("event_type").agg(
        expr("percentile(value, 0.25)").as("p25"),
        expr("percentile(value, 0.75)").as("p75"))
      .select(col("event_type"),
        (col("p25") - lit(1.5) * (col("p75") - col("p25"))).as("lo"),
        (col("p75") + lit(1.5) * (col("p75") - col("p25"))).as("hi"))
    ev.join(broadcast(fences), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"),
        rd(qsum(when(col("value") < col("lo") || col("value") > col("hi"),
          col("value")).otherwise(lit(0.0)), 6), 2).as("outlier_mass"))
      .select(col("event_type"), col("n_events"), col("n_outliers"),
        rd(col("n_outliers").cast("double") / col("n_events"), 4)
          .as("outlier_frac"), col("outlier_mass"))
      .orderBy("event_type")
  }

  /** User growth curve: per day, first-time users and the cumulative
    * distinct user count — the adoption report next to
    * [[rollingActiveUsers]]' engagement view. Cumulative DISTINCT
    * decomposes exactly through first-seen days (a user counts once, on
    * their cohort day), so the running total is a window over the
    * |days|-bounded cohort-size table — never over users or events. */
  def cumulativeUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val firstSeen = ud.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    // window over the |days|-bounded frame (single partition by design:
    // one row per observed day)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(firstSeen, Seq("day"), "left_outer")
      .select(col("day"), col("dau"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cumulative_users", sum("new_users").over(w))
      .orderBy("day")
  }

  /** Inter-arrival time profile: percentiles of the gap between a
    * user's consecutive events — the burstiness signal behind session
    * timeouts and rate-limit tuning (the 30-minute sessionize gap is a
    * dial read off exactly this distribution). The lag window
    * partitions by user (bounded per-user state, never corpus-wide),
    * ties broken by event_id so both engines pick the same
    * predecessor; gaps stay in integer microseconds so the percentile
    * interpolation is exact. One |gaps|-to-1-row aggregate. */
  def interarrivalStats(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val gaps = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag("us", 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select((col("us") - col("prev_us")).as("gap_us"))
    gaps.agg(count(lit(1)).as("n_gaps"),
      expr("percentile(gap_us, 0.25)").as("p25_us"),
      expr("percentile(gap_us, 0.5)").as("p50_us"),
      expr("percentile(gap_us, 0.75)").as("p75_us"),
      expr("percentile(gap_us, 0.9)").as("p90_us"),
      max("gap_us").as("max_us"))
  }

  /** RFM user segmentation: recency (days since last event, vs the
    * corpus max day), frequency (event count) and monetary (exact
    * quantized value sum) per user, each cut at its corpus MEDIAN into
    * a +/− half → 8 segments with user counts. The classic marketing
    * segmentation, and the same fixed-point device as
    * [[quantityPercentiles]]: exact `percentile` matches DuckDB's
    * `quantile_cont` bit-for-bit over quantized inputs. Scale: the
    * per-user agg shuffles on user_id once; the medians are one 1-row
    * aggregate over the |users|-bounded frame (swap in
    * `approx_percentile` at extreme user counts — the dial, not the
    * plan, changes); the segment agg is 8 rows. */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val maxDay = ev.agg(max("day")).head().getDate(0) // 1-row scalar
    val users = ev.groupBy("user_id").agg(
      datediff(lit(maxDay), max("day")).as("recency"),
      count(lit(1)).as("frequency"),
      rd(qsum(col("value"), 6), 2).as("monetary"))
    val med = users.agg(
      expr("percentile(recency, 0.5)").as("rm"),
      expr("percentile(frequency, 0.5)").as("fm"),
      expr("percentile(monetary, 0.5)").as("mm")).head()
    val (rm, fm, mm) = (med.getDouble(0), med.getDouble(1), med.getDouble(2))
    users.select(concat(
        when(col("recency") <= rm, lit("R+")).otherwise(lit("R-")),
        when(col("frequency") > fm, lit("F+")).otherwise(lit("F-")),
        when(col("monetary") > mm, lit("M+")).otherwise(lit("M-"))).as("segment"))
      .groupBy("segment").agg(count(lit(1)).as("n_users"))
      .orderBy("segment")
  }

  /** DAU/MAU stickiness: daily active over 30-day rolling distinct
    * active — the classic engagement ratio. Pure reuse of
    * [[rollingActiveUsers]]' interval-delta rewrite at windowDays=30
    * (one user-keyed window over the collapsed (user, day) table,
    * never a per-day rescan and never a ×30 replication). */
  def stickiness(spark: SparkSession, sfDir: String): DataFrame =
    rollingActiveUsers(spark, sfDir, windowDays = 30)
      .select(col("day"), col("dau"), col("rolling_users").as("mau"),
        rd(col("dau").cast("double") / col("rolling_users"), 4).as("stickiness"))
      .orderBy("day")

  /** Cohort retention matrix: users grouped by first-active day, then
    * for each day-offset 0..`maxOffset` the count and share of the
    * cohort active exactly `offset` days later — the standard retention
    * triangle. Scale shape: raw events collapse to distinct (user, day)
    * once; the per-user cohort day is one user-keyed aggregate; the
    * activity×cohort join keys on user_id (both sides |users|-bounded);
    * the offset filter caps output at |days|·(maxOffset+1) rows. No
    * per-day rescan, no window over the corpus, nothing quadratic. */
  def retentionCohorts(spark: SparkSession, sfDir: String,
      maxOffset: Int = 7): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = ud.groupBy("user_id").agg(min("day").as("cohort_day"))
    val sizes = cohorts.groupBy("cohort_day")
      .agg(count(lit(1)).as("n_cohort"))
    ud.join(cohorts, Seq("user_id"))
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("n_cohort"),
        rd(col("n_active").cast("double") / col("n_cohort"), 4).as("retention"))
      .orderBy("cohort_day", "day_offset")
  }
}
