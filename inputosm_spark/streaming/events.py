"""Structured Streaming surface: the OSC change-stream generalized.

The reference's only streaming concept is the OSC change file — an
ordered batch of create/modify/delete entities replayed through the
same handlers with a `mode` flag (/root/reference/src/inputosmxml.cpp:
243-257). Here that becomes real Structured Streaming pipelines:

* `read_event_stream` — file-source readStream over the events table
  directory (one parquet per micro-batch at test scale; at 100 TB the
  same code points at a landing zone and `maxFilesPerTrigger` paces
  ingestion).
* Stream operators, each checked against a batch twin:
  `windowed_event_counts` (watermarked tumbling event-time windows;
  late rows beyond the watermark are dropped deterministically),
  `hot_cell_counts` (the same windows per grid cell),
  `attribution_join` (watermarked stream-stream time-range join) and
  the custom stateful operators `stream_sessionize`,
  `stream_exact_dedup` and `stream_od_transitions`
  (applyInPandasWithState).
* `drain(stream, checkpoint_path, sink)` — the one sink: it runs a
  stream with `trigger(availableNow=True)` until the input is drained
  (deterministic, CI-friendly) into a parquet directory or a
  foreachBatch function.
* `stream_cdc_merge` and `stream_osc_replication` — foreachBatch
  upserts into a keyed parquet state table (the stand-in for an
  Iceberg MERGE INTO) through one body, `_upsert_state`: read, merge,
  localCheckpoint, overwrite. The OSC stream merges with
  `osmxml.apply_changes`, the same latest-wins replay as a batch
  `.osc` and the replication catch-up; the events CDC merge re-ranks
  the stored state against the batch by event time (the streaming twin
  of queries_catalog.q_cdc_latest_state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inputosm_spark.sources import osmxml

EVENTS_DDL = (
    "event_id long, user_id long, event_type string, ts timestamp, value double"
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source readStream with the events schema (streams require a
    declared schema — no inference on an unbounded source)."""
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


#: Tumbling event-time window and watermark delay of the windowed stream
#: operators (`windowed_event_counts`, `hot_cell_counts`,
#: `attribution_join`).
_WINDOW = "1 hour"
_WATERMARK = "2 hours"


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window counts per event_type.

    The watermark bounds state: at 100 TB/day ingest the window state
    table holds only `watermark + window` of keys per executor, not
    the full history.
    """
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", _WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round("value", 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def event_ops(events: DataFrame) -> DataFrame:
    """Map raw events to CDC ops (signup=create, error=delete, else
    modify) — the osc_mode column of the change stream."""
    op = (
        F.when(F.col("event_type") == "signup", "create")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("modify")
    )
    return events.select(
        "user_id", "event_id", "ts", F.round("value", 2).alias("value"), op.alias("op")
    )


def drain(stream: DataFrame, checkpoint_path: str, sink):
    """The one streaming sink: run `stream` with
    `trigger(availableNow=True)` until its input is drained, and wait
    for it. `sink` is a parquet directory, written in append mode
    (watermarks close windows, so emitted rows are final), or a
    foreachBatch function `(batch, batch_id) -> None`. Returns the
    terminated StreamingQuery; a failed micro-batch raises here."""
    writer = stream.writeStream.option(
        "checkpointLocation", checkpoint_path
    ).trigger(availableNow=True)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").outputMode("append").option(
            "path", sink
        )
    q = writer.start()
    q.awaitTermination()
    return q


def _upsert_state(state_path: str, merge):
    """foreachBatch body of the state-table streams: read the current
    state (None only while `state_path` does not exist, asked of the
    Hadoop FileSystem so a first batch logs no failed read), overwrite
    it with `merge(state, batch)`. Any read error raises — treating an
    unreadable table as empty would overwrite it with the micro-batch
    alone. Idempotent when `merge` is: a replayed micro-batch converges
    to the same state."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        path = spark._jvm.org.apache.hadoop.fs.Path(state_path)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        state = spark.read.parquet(state_path) if fs.exists(path) else None
        # overwrite-by-snapshot fallback (Iceberg MERGE INTO when present).
        # localCheckpoint (not cache) before overwriting the path we just
        # read: a lost cached partition would otherwise recompute from the
        # half-truncated source directory and corrupt the state table.
        out = merge(state, batch).localCheckpoint(eager=True)
        out.write.mode("overwrite").parquet(state_path)

    return apply


def _latest_event_state(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Latest op per user_id by (ts, event_id) over the stored state and
    the micro-batch; a user whose latest op is a delete leaves the
    state. Re-ranking the state by event time (not arrival) makes the
    merge idempotent per (user_id, ts, event_id)."""
    from pyspark.sql import Window

    rows = batch if state is None else state.unionByName(batch)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "delete"))
        .drop("__rn")
    )


def stream_cdc_merge(
    events: DataFrame, state_path: str, checkpoint_path: str
):
    """Run the CDC merge stream to completion (availableNow drain).

    Returns the StreamingQuery after awaitTermination — callers read
    `state_path` for the materialized latest state.
    """
    return drain(
        event_ops(events), checkpoint_path,
        _upsert_state(state_path, _latest_event_state),
    )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming sessionization
# ---------------------------------------------------------------------------

SESSION_STATE_DDL = "sess_start timestamp, last_ts timestamp, n_events long"
SESSION_OUT_DDL = (
    "user_id long, sess_start timestamp, sess_end timestamp, n_events long"
)


#: Inactivity gap that closes a session.
_SESSION_GAP_S = 1800


def stream_sessionize(events: DataFrame):
    """Gap-based sessionization as a CUSTOM STATEFUL streaming operator
    (applyInPandasWithState) — the engine's example of semantics the
    built-in window/watermark operators can't express: per-key mutable
    state (open session) that closes on a data-driven condition (gap),
    not on a fixed window boundary.

    Emits one row per CLOSED session; the open tail session per user
    stays in state (emitted on event-time timeout once the watermark
    passes last_ts + gap). State per key is three scalars — bounded
    regardless of corpus size.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        user_id = key[0]
        closed = []  # (sess_start, sess_end, n_events)

        if state.hasTimedOut:
            if state.exists:
                s0, last, n = state.get
                closed.append((s0, last, n))
                state.remove()
        else:
            rows = pd.concat(list(pdf_iter), ignore_index=True)
            rows = rows.sort_values(["ts", "event_id"])
            ts = rows["ts"].reset_index(drop=True)
            # vectorized gap detection: boundary where inter-event gap
            # exceeds gap_s (no per-row Python)
            bound = ts.diff().dt.total_seconds() > _SESSION_GAP_S
            grp = bound.cumsum()
            agg = ts.groupby(grp).agg(["min", "max", "count"])

            s0 = last = None
            n = 0
            if state.exists:
                s0, last, n = state.get
            for g_start, g_end, g_n in agg.itertuples(index=False):
                g_start = g_start.to_pydatetime()
                g_end = g_end.to_pydatetime()
                if (last is not None
                        and (g_start - last).total_seconds() > _SESSION_GAP_S):
                    closed.append((s0, last, n))
                    s0, last, n = None, None, 0
                if s0 is None:
                    s0 = g_start
                else:
                    # late-but-within-watermark events may precede the
                    # open session's bounds: extend, never shrink (the
                    # timeout timestamp must not move backwards)
                    s0 = min(s0, g_start)
                last = g_end if last is None else max(last, g_end)
                n += int(g_n)
            state.update((s0, last, n))
            # event-time timeout: close the open session once the
            # watermark passes last_ts + gap
            state.setTimeoutTimestamp(
                int(last.timestamp() * 1000) + _SESSION_GAP_S * 1000
            )

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "sess_start": [c[0] for c in closed],
                    "sess_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", f"{_SESSION_GAP_S} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_DDL,
            stateStructType=SESSION_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming exact dedup (keep-first)
# ---------------------------------------------------------------------------

DEDUP_STATE_DDL = "first_ts timestamp, n_dups long"
DEDUP_OUT_DDL = "fingerprint string, event_id long, user_id long, ts timestamp"


#: How long a fingerprint stays in state past the watermark.
_DEDUP_TTL_S = 7200


def stream_exact_dedup(events: DataFrame):
    """Streaming keep-first exact dedup — the training-data pipeline's
    dedup ladder (operators/dedup.exact_dups) lifted to a stream: the
    FIRST row per fingerprint is emitted, every later duplicate is
    dropped while its fingerprint is in state. State per key is two
    scalars and expires `_DEDUP_TTL_S` past the watermark (bounded state:
    at 100 TB/day the table holds one window of fingerprints, not the
    full history — the standard at-scale trade: duplicates separated
    by more than the TTL pass through and are caught by the batch
    dedup downstream).

    applyInPandasWithState because no built-in operator expresses
    "emit first, swallow the rest, forget after TTL": dropDuplicates
    on a stream keeps state forever (OOM at scale) and
    dropDuplicatesWithinWatermark has no keep-FIRST ordering guarantee
    within a micro-batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        if state.exists:
            first_ts, n = state.get
            n += len(rows)
            state.update((first_ts, n))
        else:
            head = rows.iloc[0]
            state.update((head["ts"].to_pydatetime(), int(len(rows))))
            yield pd.DataFrame(
                {
                    "fingerprint": [key[0]],
                    "event_id": [int(head["event_id"])],
                    "user_id": [int(head["user_id"])],
                    "ts": [head["ts"]],
                }
            )
        last_ts = rows["ts"].max().to_pydatetime()
        state.setTimeoutTimestamp(
            int(last_ts.timestamp() * 1000) + _DEDUP_TTL_S * 1000
        )

    return (
        events.withWatermark("ts", f"{_DEDUP_TTL_S} seconds")
        .groupBy("fingerprint")
        .applyInPandasWithState(
            fn,
            outputStructType=DEDUP_OUT_DDL,
            stateStructType=DEDUP_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# streaming spatial rollup: hot-cell monitor
# ---------------------------------------------------------------------------


#: Grid resolution of the hot-cell monitor.
_HOT_CELL_RES = 5


def hot_cell_counts(events: DataFrame) -> DataFrame:
    """Streaming hot-cell monitor (north_star composition): assign each
    event a grid cell from its user's deterministic point, then run a
    watermarked tumbling-window count per cell — the live view of the
    skew detector (`operators/skew.hot_keys`) over a stream. The cell
    math is the same codegen'd Catalyst expression as the batch path;
    state per executor is bounded by (watermark + window) x occupied
    cells.
    """
    from inputosm_spark.functions import cells

    lat, lon = cells.point_exprs("user_id")
    keyed = events.select(
        "ts", cells.cell_id_expr(lat, lon, _HOT_CELL_RES).alias("cell")
    )
    return (
        keyed.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", _WINDOW).alias("w"), "cell")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "cell",
            "n",
        )
    )


def _osc_merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Replay a micro-batch of OSC rows onto the entity state with
    `osmxml.apply_changes`, keyed (kind, id). Recency: the file's
    NUMERIC replication sequence (last digit run in the filename), then
    the filename, then the in-file op position. Numeric extraction
    matters: lexicographic file order would sort a non-zero-padded
    landing zone wrong (``10.osc`` < ``9.osc``) and replay stale ops as
    latest; plain names without digits fall back to lexicographic."""
    if state is None:
        state = batch.sparkSession.createDataFrame(
            [], batch.drop("op", "seq", "source_file").schema
        )
    file_num = F.nullif(
        F.regexp_extract("source_file", r"(\d+)[^\d]*$", 1), F.lit("")
    ).cast("long")
    return osmxml.apply_changes(
        state, batch, key=["kind", "id"],
        order=[F.desc_nulls_last(file_num), F.desc("source_file"),
               F.desc("seq")],
    )


def stream_osc_replication(
    spark, landing_dir: str, state_path: str, checkpoint_path: str
):
    """END-TO-END OSC REPLICATION: change files land in a directory
    (e.g. fetched by sources/replication.py from the header's
    replication sequence), the streaming source parses them
    (osmxml.read_osc_stream), and each micro-batch upserts into the
    entity state table with last-op-wins semantics — the reference's
    sequential OSC replay, continuous and restartable (checkpointed
    file-stream progress). availableNow drain; callers read
    `state_path` for the materialized current state."""
    return drain(
        osmxml.read_osc_stream(spark, landing_dir), checkpoint_path,
        _upsert_state(state_path, _osc_merge),
    )


#: Longest click -> purchase delay the attribution join pairs.
_ATTRIBUTION_MAX_DELAY_S = 3600


def attribution_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Watermarked STREAM-STREAM inner join (round-5 §2.7 extension):
    every (click, purchase) pair of the same user where the purchase
    lands within `_ATTRIBUTION_MAX_DELAY_S` AFTER the click — the classic
    attribution join. On streaming inputs Spark plans a
    StreamingSymmetricHashJoin whose state is BOUNDED by the watermark
    plus the time-range condition (each side buffers only rows still
    joinable — the property that makes stream-stream joins viable at
    100 TB/day); on static frames `withWatermark` is a no-op and the
    identical plan is the batch twin the pytest AND the
    `click_attribution` oracle query verify.

    delay_s compares floor-epoch integers on both sides (DuckDB's
    `epoch()` is fractional; truncating each endpoint first is the
    engine's cross-dialect convention)."""
    c = clicks.withWatermark("ts", _WATERMARK).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", _WATERMARK).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts")
            + F.make_interval(secs=F.lit(_ATTRIBUTION_MAX_DELAY_S))
        ),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("delay_s"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_at"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "purchase_at"
        ),
    )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming OD (cell-transition) detection
# ---------------------------------------------------------------------------

OD_STATE_DDL = "last_ts timestamp, last_cell long"
OD_OUT_DDL = "user_id long, from_cell long, to_cell long, move_ts timestamp"


def stream_od_transitions(obs: DataFrame, res: int) -> DataFrame:
    """Streaming origin->destination transition detection — the
    stateful twin of `operators/spatial.od_flows`' transition stage:
    each user's last-known grid cell lives in state (two scalars,
    bounded by user cardinality, NOT by stream length), and every
    arriving observation that lands in a DIFFERENT cell emits one
    (user, from_cell, to_cell, move_ts) row. Downstream the flow
    matrix is a plain streaming groupBy count — built-in.

    The cell id is computed in CATALYST before the stateful operator
    (map-side, codegen), so the Python state fn touches only (ts,
    cell) pairs. In-batch rows are processed in (ts, cell) event-time
    order — the same total order as the batch twin — and rows older
    than the state's last_ts (cross-batch stragglers beyond the
    watermark's guarantee) are dropped, the standard streaming
    late-data contract.

    `obs` needs (user_id, ts, lat_e4, lon_e4).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from inputosm_spark.functions import cells

    with_cell = obs.select(
        "user_id", "ts",
        cells.cell_id_expr("lat_e4", "lon_e4", res).alias("cell"),
    )

    def fn(key, pdf_iter, state: GroupState):
        user_id = key[0]
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["ts", "cell"]).reset_index(drop=True)
        last_ts, last_cell = state.get if state.exists else (None, None)
        if last_ts is not None:
            rows = rows[rows["ts"] >= last_ts].reset_index(drop=True)
        if len(rows):
            # vectorized transition detection: shift-compare, with the
            # carried state cell prepended as row -1's value. shift()
            # on plain int64 upcasts through FLOAT64 (NaN hole) and
            # rounds 2^58-packed cell ids — nullable Int64 keeps every
            # bit exact
            prev = rows["cell"].astype("Int64").shift(1)
            if last_cell is not None:
                prev.iloc[0] = last_cell
            moved = prev.notna() & (rows["cell"] != prev)
            state.update(
                (
                    rows["ts"].iloc[-1].to_pydatetime(),
                    int(rows["cell"].iloc[-1]),
                )
            )
            if moved.any():
                hit = rows[moved]
                yield pd.DataFrame(
                    {
                        "user_id": [user_id] * len(hit),
                        "from_cell": prev[moved].astype("int64").values,
                        "to_cell": hit["cell"].values,
                        "move_ts": hit["ts"].values,
                    }
                )

    return (
        with_cell.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=OD_OUT_DDL,
            stateStructType=OD_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
