package graft.streaming

import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming surface (SURVEY §2.10).
  *
  * The reference is batch-only (full drop/reload); its README lists
  * incremental/real-time refresh as future work. This module supplies
  * that capability Spark-natively: event-time windowed aggregations,
  * session windows and interval joins, each expressed as a
  * stream-agnostic transform — apply it to `spark.readStream` sources for
  * incremental execution with watermarked state eviction, or to a batch
  * DataFrame for backfill (identical results, one definition).
  */
object Events {

  /** Hourly distinct users per event type — the streaming-cardinality
    * pattern: EXACT streaming distinct needs per-window user sets
    * (unbounded state on a high-cardinality stream); approx_count_distinct
    * keeps one bounded HLL++ sketch per open window instead, and the
    * watermark evicts closed windows. Same transform serves batch
    * backfill; the batch twin `window_distinct_hll` (ops/Sketches.scala)
    * gates the estimate against the exact oracle. */
  def hourlyDistinctByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.016).as("approx_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("approx_users"))

  /** Per-user session rollup via event-time session windows (gap 30 min):
    * the `mapGroupsWithState`-class capability expressed with the
    * built-in session_window operator (codegen'd, AQE-compatible). */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("event_cnt"),
           sum(cents(col("value"))).as("total_value_cents"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
              col("user_id"), col("event_cnt"), col("total_value_cents"))

  /** Stream-static enrichment: join the event stream to a slowly-changing
    * dimension (user → country) and aggregate hourly revenue per country.
    * Stream-static joins need NO state for the static side — Spark plans
    * the dim as a broadcast against every micro-batch, so the stream is
    * never shuffled for the join; only the windowed agg keeps
    * (watermark-bounded) state. The dim frame is re-resolved per batch,
    * which is what makes "slowly-changing" work: replacing the underlying
    * files refreshes the enrichment without a restart. Stream-agnostic:
    * apply to readStream for incremental execution or to a batch frame
    * for backfill (the `stream_enrich` oracle key). */
  def enrichedHourlyByCountry(events: DataFrame, userDim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(userDim), col("user_id") === col("user_key"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("country"))
      .agg(count(lit(1)).as("event_cnt"),
           sum(cents(col("value"))).as("total_value_cents"))
      .select(col("w.start").as("window_start"), col("country"),
              col("event_cnt"), col("total_value_cents"))

  /** Stream-stream interval join (click→purchase attribution): every
    * purchase is paired with each same-user click in the preceding
    * hour. The event-time range predicate in the join condition is
    * what makes this runnable on two UNBOUNDED streams: with both
    * sides watermarked, Spark derives a state-retention bound per side
    * (a click can only match purchases up to 1 hour later, so click
    * state older than watermark − 1 h is evicted; purchase state
    * evicts at the watermark) — without the range predicate the join
    * state would grow forever. Stream-agnostic like the rest of this
    * module: on batch frames the watermarks are no-ops and the same
    * definition becomes a plain interval join (the
    * `stream_click_attrib` oracle key). Lag is exact integer
    * MICROSECONDS (unix_micros ↔ DuckDB epoch_us) — the event
    * timestamps carry sub-second parts, and a seconds cast would
    * floor/round differently across engines. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
    c.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"),
        cents(col("value")).as("value_cents"))
  }

  /** Stream-stream LEFT OUTER interval join — the attribution
    * complement: EVERY purchase appears, paired with each same-user
    * click in the preceding hour or with NULL click columns if none
    * exists. The null rows are the semantically hard part of streaming
    * outer joins: "no click matched" is only provable once the
    * watermark passes the end of the purchase's match window (a
    * qualifying click could still arrive late until then), so Spark
    * holds the unmatched purchase in state and emits the null row on
    * eviction — the MemoryStream spec pins exactly that delayed
    * emission. Batch frames degrade to a plain left outer interval
    * join (the `stream_attrib_outer` oracle key). */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("click_ts"))
    p.join(c,
        col("user_id") === col("c_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"),
        cents(col("value")).as("value_cents"))
  }
}
