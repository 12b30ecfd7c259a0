package graft.gates

import graft.pipeline._

/** Temporal gates: as-of join and gap sessionization. */
object TemporalGates {

  /** 8 hours in microseconds — the gate's session gap */
  val Temporal8hUs: Long = 8L * 3600 * 1000000

  val all: Seq[Gate] = Seq(
    // as-of join: each purchase attributed to the user's most recent
    // click at-or-before it — single-exchange union+window plan, no
    // range join (Temporal.asOfJoin)
    Gate("q_asof_join", (s, dir) =>
      Temporal.asOfJoin(s.read.parquet(s"$dir/events.parquet"),
        probeType = "purchase", refType = "click").orderBy("event_id"),
      Some("WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_probe, " +
        "CAST(round(value * 100) AS BIGINT) AS cents " +
        "FROM events WHERE event_type IN ('purchase', 'click')), " +
        "w AS (SELECT event_id, user_id, ts_us, is_probe, " +
        "last_value(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS) OVER ow AS ref_event_id, " +
        "last_value(CASE WHEN is_probe = 0 THEN ts_us END IGNORE NULLS) OVER ow AS ref_ts_us, " +
        "last_value(CASE WHEN is_probe = 0 THEN cents END IGNORE NULLS) OVER ow AS ref_cents " +
        "FROM t WINDOW ow AS (PARTITION BY user_id ORDER BY ts_us, is_probe, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, ts_us, ref_event_id, ref_ts_us, ref_cents, " +
        "ts_us - ref_ts_us AS lag_us FROM w WHERE is_probe = 1 ORDER BY event_id")),

    // gap sessionization: 8-hour inactivity gap over per-user event
    // streams; all-integer outputs (micros, cents, counts)
    Gate("q_sessionize", (s, dir) =>
      Temporal.sessionize(s.read.parquet(s"$dir/events.parquet"),
        gapUs = Temporal8hUs).orderBy("user_id", "session_idx"),
      Some("WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CAST(round(value * 100) AS BIGINT) AS cents, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase FROM events), " +
        "b AS (SELECT user_id, event_id, ts_us, cents, is_purchase, " +
        "CASE WHEN lag(ts_us) OVER ow IS NULL OR ts_us - lag(ts_us) OVER ow > 28800000000 " +
        "THEN 1 ELSE 0 END AS brk " +
        "FROM t WINDOW ow AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "s AS (SELECT user_id, ts_us, cents, is_purchase, " +
        "CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM b) " +
        "SELECT user_id, session_idx, count(*) AS n_events, " +
        "min(ts_us) AS start_us, max(ts_us) AS end_us, " +
        "CAST(sum(cents) AS BIGINT) AS cents, CAST(sum(is_purchase) AS BIGINT) AS n_purchases " +
        "FROM s GROUP BY 1, 2 ORDER BY 1, 2"))
  )
}
