"""Incremental ingest via Structured Streaming.

The reference is pure batch; the graft's resume story is snapshot-based
(plans/checkpoint.py). This module adds the streaming twin for
*continuous* ingestion of new pages: the same extraction expressions run
over ``readStream``, late data bounded by a watermark, per-cell counts
maintained as a windowed streaming aggregate. The tile assignment itself
stays a periodic batch job (bisection is iterative/global); streaming
feeds it staged entities — the standard lambda split for iterative
algorithms over append-only data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import grid_cell
from ..sources.extract import GEO_PATTERN


def stream_pages_from_dir(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """File-source stream of page parquet drops (append-only Iceberg
    stand-in; on a cluster this is spark.readStream.format('iceberg'))."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_entities(pages_stream: DataFrame, res: int = 6) -> DataFrame:
    """Same extraction expressions as the batch path (sources/extract.py)
    — declarative plan reuse is the point."""
    return (
        pages_stream.select(
            "url",
            "warc_ts",
            F.regexp_extract_all(F.col("text"), F.lit(GEO_PATTERN), 0).alias("ms"),
        )
        .filter(F.size("ms") > 0)
        .select("url", "warc_ts", F.posexplode("ms").alias("pos", "m"))
        .select(
            "url",
            "warc_ts",
            F.split(F.regexp_replace("m", "^geo:", ""), ",")[0]
            .cast("double")
            .alias("lat"),
            F.split(F.regexp_replace("m", "^geo:", ""), ",")[1]
            .cast("double")
            .alias("lon"),
        )
        .withColumn("cell", grid_cell(F.col("lat"), F.col("lon"), res))
    )


def windowed_cell_counts(
    entities_stream: DataFrame,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Per-cell windowed counts with late-data watermark — the streaming
    analogue of the per-cell aggregations (A2/A3)."""
    return (
        entities_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "cell")
        .agg(F.count("*").alias("n_entities"))
        .select("win.start", "win.end", "cell", "n_entities")
    )


def run_stream_to_staging(
    entities_stream: DataFrame, staging_dir: str, checkpoint_dir: str, once: bool = True
):
    """Append extracted entities to the staging table consumed by the
    periodic batch tiler."""
    writer = (
        entities_stream.writeStream.format("parquet")
        .option("path", staging_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Custom stateful operator: streaming sessionization
# (applyInPandasWithState) — the streaming twin of
# operators/sessionize.py::sessionize. Like the batch twin it buffers
# and compares event times in microseconds; the emitted start_ts/end_ts
# are whole seconds.
# ---------------------------------------------------------------------------

SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, start_ts long, end_ts long, n_events long"
)
SESSION_STATE_SCHEMA = "start long, last long, sid long, n long, buf array<long>"

#: microseconds per second: event times are buffered in microseconds
_US = 10**6


def _make_session_fn(gap_sec: int, state_ttl_sec: int):
    import bisect

    import pandas as pd

    cols = ["user_id", "session_id", "start_ts", "end_ts", "n_events"]
    gap_us = gap_sec * _US

    def fn(key, pdf_iter, state):
        user_id = int(key[0])
        wm_ms = state.getCurrentWatermarkMs()
        wm = wm_ms // 1000  # the watermark's whole second
        new_ts: list[int] = []  # event times in microseconds
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                new_ts.extend(int(x) for x in pdf["ts_us"])
        if state.exists:
            start, last, sid, n, buf = state.get
            buf = sorted(list(buf) + new_ts)
            anchor = last
            if start == -1:  # sentinel: counter only, no open session
                start = last = None
                n = 0
        else:
            start = last = None
            sid, n = -1, 0
            buf = sorted(new_ts)
            anchor = None
        out = []
        # FINALIZE only events strictly below the watermark's whole
        # second: any future arrival has ts >= watermark, so the
        # relative order of the finalized prefix can never change — this
        # is what makes the result independent of micro-batch arrival
        # order. Later events stay buffered in state until the watermark
        # passes them. A session a finalized event closes (last + gap <
        # t < wm) thus has end_ts + gap < wm in whole seconds too.
        cut = bisect.bisect_left(buf, wm * _US)
        safe, buf = buf[:cut], buf[cut:]
        for t in safe:
            if last is None or t - last > gap_us:
                if last is not None:
                    out.append((user_id, sid, start // _US, last // _US, n))
                sid += 1
                start = t
                n = 0
            n += 1
            last = t
        if last is not None:
            anchor = last
            # tail close, watermark-proved complete: no event can extend
            # the open session once end_ts + gap < wm STRICTLY in whole
            # seconds (then last + gap < wm in microseconds, future
            # arrivals are >= wm, and Spark's event-time timeout uses
            # the same strict predicate). Successor-closed sessions
            # above satisfy it too, so the emitted set is exactly
            # {batch sessions: end_ts + gap < wm}.
            if last // _US + gap_sec < wm:
                out.append((user_id, sid, start // _US, last // _US, n))
                start = last = None
                n = 0
        if last is not None:  # open (not-yet-provably-complete) session
            state.update((start, last, sid, n, buf))
            wake_ms = (last // _US + gap_sec) * 1000
            if buf:
                wake_ms = min(wake_ms, buf[0] // _US * 1000)
            state.setTimeoutTimestamp(max(wake_ms, wm_ms + 1))
        elif buf:  # only buffered future events; wake when wm passes one
            state.update((-1, anchor if anchor is not None else buf[0], sid, 0, buf))
            state.setTimeoutTimestamp(max(buf[0] // _US * 1000, wm_ms + 1))
        elif sid >= 0 and anchor is not None:
            # sentinel: keep the per-user session counter so numbering
            # stays monotone across flushes; expires after
            # state_ttl_sec of event-time inactivity — bounded state
            ttl_ms = (anchor + gap_us + state_ttl_sec * _US) // 1000
            if ttl_ms <= wm_ms:
                state.remove()
            else:
                state.update((-1, anchor, sid, 0, []))
                state.setTimeoutTimestamp(ttl_ms)
        else:
            state.remove()
        yield pd.DataFrame(out, columns=cols)

    return fn


def streaming_sessionize(
    events_stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    state_ttl_minutes: int = 24 * 60,
) -> DataFrame:
    """Per-user session tracking as a CUSTOM STATEFUL streaming operator
    (applyInPandasWithState, event-time timeout), WATERMARK-COMPLETE:
    state buffers each user's pending event times; an event is
    finalized into the gap-sessionization only once the watermark
    passes it (no future arrival can reorder the finalized prefix), and
    a session is emitted only once the watermark proves it complete
    (end + gap < watermark, strict — Spark's own timeout predicate).
    After a flush the per-user session counter survives in a sentinel
    state for ``state_ttl_minutes`` of event-time inactivity, so
    session_id stays monotone across timeouts (no duplicate
    (user_id, session_id) keys); only after the TTL does the numbering
    restart at 0.

    Parity: replaying a static table in ANY micro-batch order whose
    disorder is bounded by the watermark delay (rows later than the
    watermark are dropped by Spark before the operator — the standard
    late-data contract) yields exactly the batch twin's sessions
    restricted to end + gap < final watermark: same rows, same
    numbering (asserted in tests for in-order AND shuffled replays, and
    by the DuckDB oracle). State per user is O(events inside the
    watermark horizon) — bounded by the delay, the streaming analogue
    of the batch shuffle buffer."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream.withWatermark("ts", watermark).select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("ts"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(gap_minutes * 60, state_ttl_minutes * 60),
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
