package graft.queries

import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps
import Tables.events

/** Streaming-window queries: tumbling, sliding and session windows
  * and first-occurrence dedup over the events table.
  */
object StreamingQueries extends QueryDomain("streaming") {

  val entries: Seq[(String, Q)] = Seq(
    // Streaming: tumbling 1-hour windows per event type
    "stream_tumbling" -> Q((s, dir) =>
      StreamingOps.tumblingCounts(events(s, dir), "1 hour"),
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Streaming: 30-minute-gap sessionization
    "stream_sessions" -> Q((s, dir) =>
      StreamingOps.sessionize(events(s, dir), gapMs = 1800000L),
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms FROM events
        |),
        |s AS (
        |  SELECT *, CASE
        |    WHEN lag(ts_ms) OVER w IS NULL THEN 1
        |    WHEN ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1
        |    ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |),
        |sid AS (
        |  SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
        |  FROM s
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS value_sum
        |FROM sid GROUP BY user_id, session_id""".stripMargin),

    // Streaming: sliding 1-hour windows every 30 minutes
    "stream_sliding" -> Q((s, dir) =>
      StreamingOps.slidingCounts(events(s, dir), "1 hour", "30 minutes"),
      """WITH k AS (SELECT unnest([0, 1]) AS s),
        |e AS (SELECT epoch_ms(ts) AS tm, event_type, value FROM events),
        |w AS (
        |  SELECT (tm // 1800000 - s) * 1800000 AS window_start_ms, event_type, value
        |  FROM e CROSS JOIN k
        |)
        |SELECT window_start_ms, event_type, count(*) AS cnt,
        |       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS value_sum
        |FROM w GROUP BY 1, 2""".stripMargin),

    // First-occurrence dedup per (user, event_type): batch semantics of
    // streaming dropDuplicates, as a min_by hash aggregate
    "stream_first_events" -> Q((s, dir) =>
      StreamingOps.firstEvents(events(s, dir)),
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, value, epoch_ms(ts) AS ts_ms
        |  FROM events
        |),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts_ms, event_id) AS rn
        |  FROM e
        |)
        |SELECT user_id, event_type, event_id AS first_event_id,
        |       ts_ms AS first_ts_ms, value AS first_value
        |FROM r WHERE rn = 1""".stripMargin)
  )
}
