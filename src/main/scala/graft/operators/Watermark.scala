package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Incremental watermark semantics (SURVEY §2.1 W1-W3).
  *
  * The reference filters rows against a per-stream bookmark either
  * server-side (API filter param, `tap_wrike/utility.py:63-67`) or
  * client-side (string compare, `tap_hubspot/fetch.py:69-76`). In Spark both
  * collapse into one declarative `Filter` that Catalyst pushes into the
  * parquet/JDBC scan — `.explain` shows it under `PushedFilters`.
  *
  * Bookmark-advance policy (W3): most streams advance to *run start time*;
  * the analytics stream advances to `max(date_key)` seen
  * (`tap_hubspot/fetch.py:97,143-146`). Run start is
  * `Orchestrator.runOnce`'s default; max seen is [[advanceToMaxSeen]].
  */
object Watermark {

  /** W1/W2 — rows strictly newer than the bookmark. Pushed down by
    * Catalyst; no shuffle.
    */
  def newerThan(df: DataFrame, tsCol: String, bookmark: Timestamp): DataFrame =
    df.filter(col(tsCol) > lit(bookmark))

  def newerThan(df: DataFrame, tsCol: String, bookmarkIso: String): DataFrame =
    df.filter(col(tsCol) > to_timestamp(lit(bookmarkIso)))

  /** W3 (analytics policy) — bookmark := max event time in the batch.
    * A single `max` aggregate: map-side partial agg, one tiny shuffle.
    * The column is cast to timestamp first, so ISO-string event-time
    * columns (raw JSON extracts) work unchanged. */
  def advanceToMaxSeen(df: DataFrame, tsCol: String): Option[Timestamp] = {
    val r: Row = df.agg(max(col(tsCol).cast("timestamp")).as("wm")).head()
    if (r.isNullAt(0)) None else Some(r.getTimestamp(0))
  }
}
