"""Structured Streaming: windowed agg parity with batch, CDC merge
convergence, replay idempotency (the OSC change-stream semantics,
/root/reference/test/unit/read_osc_test.cpp:40-213, lifted to streams).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from inputosm_spark.streaming import events as stream_ops


def _events_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, "events.parquet")


def _events_dir(sf_dir: str, tmp_path) -> str:
    """The file stream source requires a DIRECTORY (its landing-zone
    contract); stage the single parquet file into one via symlink."""
    d = tmp_path / "events_landing"
    d.mkdir(exist_ok=True)
    link = d / "events.parquet"
    if not link.exists():
        os.symlink(_events_path(sf_dir), link)
    return str(d)


def test_windowed_stream_matches_batch(spark, sf_dir, tmp_path):
    src = stream_ops.read_event_stream(spark, _events_dir(sf_dir, tmp_path))
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")
    stream_ops.drain(stream_ops.windowed_event_counts(src), ckpt, out)

    got = spark.read.parquet(out)
    batch_events = spark.read.parquet(_events_path(sf_dir))
    expected = (
        batch_events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round("value", 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    # append mode emits only watermark-closed windows; every emitted row
    # must exactly equal its batch twin, and most windows must emit
    n_got = got.count()
    assert n_got > 0
    joined = got.join(
        expected, ["hour_start", "event_type"], "inner"
    ).filter((got.n == expected.n) & (got.total_value == expected.total_value))
    assert joined.count() == n_got


def test_cdc_merge_matches_batch_latest_state(spark, sf_dir, tmp_path):
    src = stream_ops.read_event_stream(spark, _events_dir(sf_dir, tmp_path))
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "cdc_ckpt")
    stream_ops.stream_cdc_merge(src, state, ckpt)

    got = spark.read.parquet(state)

    from pyspark.sql import Window

    ev = spark.read.parquet(_events_path(sf_dir))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    expected = (
        stream_ops.event_ops(ev)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "delete"))
        .drop("__rn")
    )
    assert got.count() == expected.count()
    assert (
        got.select("user_id", "op", "value").exceptAll(
            expected.select("user_id", "op", "value")
        )
    ).isEmpty()


def test_cdc_merge_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running the drained stream (fresh checkpoint, same state dir)
    converges to the same state — the resume contract."""
    state = str(tmp_path / "state2")
    for i in range(2):
        src = stream_ops.read_event_stream(spark, _events_dir(sf_dir, tmp_path))
        stream_ops.stream_cdc_merge(src, state, str(tmp_path / f"ckpt{i}"))
    got = spark.read.parquet(state)
    ids = got.groupBy("user_id").count().filter("count > 1")
    assert ids.isEmpty()


def test_cdc_merge_raises_on_unreadable_state(spark, sf_dir, tmp_path):
    """Only a MISSING state table is empty state: an existing table the
    reader cannot parse fails the stream and is left as it was, never
    overwritten with the micro-batch alone."""
    import pytest
    from pyspark.errors import StreamingQueryException

    state = tmp_path / "bad_state"
    state.mkdir()
    garbage = state / "part-00000.parquet"
    garbage.write_bytes(b"not a parquet file")
    src = stream_ops.read_event_stream(spark, _events_dir(sf_dir, tmp_path))
    with pytest.raises(StreamingQueryException):
        stream_ops.stream_cdc_merge(src, str(state), str(tmp_path / "bad_ckpt"))
    assert [p.name for p in state.iterdir()] == ["part-00000.parquet"]
    assert garbage.read_bytes() == b"not a parquet file"


_FRESH_STATE_STREAM = """
import sys

from inputosm_spark import get_spark
from inputosm_spark.streaming import events as stream_ops

landing, state, ckpt = sys.argv[1:]
spark = get_spark(cpus=2, shuffle_partitions=2, app_name="fresh_state")
stream_ops.stream_cdc_merge(
    stream_ops.read_event_stream(spark, landing), state, ckpt
)
print(spark.read.parquet(state).count() > 0)
spark.stop()
"""


def test_cdc_merge_first_batch_logs_no_missing_state(sf_dir, tmp_path):
    """A state-table stream starting on a fresh path finds no state
    and says nothing about it: its first micro-batch must not log a
    failed read (a JVM FileNotFoundException stack trace) of the state
    table it is about to create."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, INPUTOSM_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_STATE_STREAM,
         _events_dir(sf_dir, tmp_path), str(tmp_path / "state"),
         str(tmp_path / "ckpt")],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["True"]
    assert "FileNotFoundException" not in proc.stderr


def test_stateful_sessionize_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions must equal
    batch sessionization minus each user's open tail session (which
    stays in state until the watermark passes it)."""
    src = stream_ops.read_event_stream(spark, _events_dir(sf_dir, tmp_path))
    out = str(tmp_path / "sess_out")
    stream_ops.drain(
        stream_ops.stream_sessionize(src), str(tmp_path / "sess_ckpt"), out
    )
    got = spark.read.parquet(out)

    from pyspark.sql import Window

    ev = spark.read.parquet(_events_path(sf_dir))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0).alias("new_sess"),
    )
    sess = gaps.select(
        "user_id", "ts",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("sess_idx"),
    ).groupBy("user_id", "sess_idx").agg(
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
        F.count("*").alias("n_events"),
    )
    # expected = all gap-closed sessions, plus tail sessions the final
    # watermark (max_ts - 1800s delay) already timed out (timeout fires
    # at sess_end + 1800s gap -> emitted iff max_ts - sess_end > 3600s)
    max_ts = ev.agg(F.max("ts")).first()[0]
    wm = Window.partitionBy("user_id")
    expected = (
        sess.withColumn("max_idx", F.max("sess_idx").over(wm))
        .filter(
            (F.col("sess_idx") != F.col("max_idx"))
            | (
                F.unix_timestamp(F.lit(max_ts)) - F.unix_timestamp("sess_end")
                > 3600
            )
        )
        .select("user_id", "sess_start", "sess_end", "n_events")
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).isEmpty() and expected.exceptAll(got).isEmpty()


def test_hot_cell_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming hot-cell counts equal the batch groupBy for every
    watermark-closed window."""
    from inputosm_spark.functions import cells

    src = stream_ops.read_event_stream(spark, _events_dir(sf_dir, tmp_path))
    out = str(tmp_path / "hot_out")
    stream_ops.drain(
        stream_ops.hot_cell_counts(src), str(tmp_path / "hot_ckpt"), out
    )
    got = spark.read.parquet(out)
    assert got.count() > 0

    ev = spark.read.parquet(_events_path(sf_dir))
    lat, lon = cells.point_exprs("user_id")
    expected = (
        ev.select(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("hour_start"),
            cells.cell_id_expr(lat, lon, 5).alias("cell"),
        )
        .groupBy("hour_start", "cell")
        .agg(F.count("*").alias("n"))
    )
    joined = got.join(expected, ["hour_start", "cell"], "inner").filter(
        got.n == expected.n
    )
    assert joined.count() == got.count()


def test_sessionize_late_event_does_not_shrink_session(spark, tmp_path):
    """A late-but-within-watermark event older than the open session's
    last_ts must extend the session backwards-safely: sess_end (and the
    timeout) must NOT move backwards to the late event's timestamp."""
    import shutil

    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")

    def mkbatch(i, rows):
        df = spark.createDataFrame(
            [
                (eid, uid, "click", (base + pd.Timedelta(seconds=s)).to_pydatetime(), 0.0)
                for eid, uid, s in rows
            ],
            stream_ops.EVENTS_DDL,
        )
        staged = tmp_path / f"stage{i}"
        df.coalesce(1).write.parquet(str(staged))
        part = next(staged.glob("part-*.parquet"))
        dst = landing / f"batch{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    landing = tmp_path / "late_landing"
    landing.mkdir()
    mkbatch(0, [(1, 1, 1000), (2, 1, 2000)])          # open session [1000, 2000]
    mkbatch(1, [(3, 1, 1500)])                         # LATE: inside the session
    mkbatch(2, [(4, 2, 7000)])                         # watermark -> 5200 > 3800
    mkbatch(3, [(5, 2, 8000)])                         # extra batch fires the timeout

    src = stream_ops.read_event_stream(spark, str(landing), max_files_per_trigger=1)
    out = str(tmp_path / "late_out")
    stream_ops.drain(
        stream_ops.stream_sessionize(src), str(tmp_path / "late_ckpt"), out
    )

    got = {r.user_id: r for r in spark.read.parquet(out).collect()}
    assert 1 in got, "user 1's session must close via the event-time timeout"
    sess = got[1]
    assert sess.sess_start == (base + pd.Timedelta(seconds=1000)).to_pydatetime()
    # the buggy version set last = 1500 (the late event), shrinking the end
    assert sess.sess_end == (base + pd.Timedelta(seconds=2000)).to_pydatetime()
    assert sess.n_events == 3


def test_streaming_exact_dedup_matches_batch_keep_first(spark, sf_dir, tmp_path):
    """Streaming keep-first dedup: one row per fingerprint, the
    (ts, event_id)-minimal one — equal to the batch window twin for a
    single micro-batch (cross-batch keep-first is TTL-scoped by
    design)."""
    fp = F.md5(F.pmod("user_id", F.lit(50)).cast("string"))
    src = stream_ops.read_event_stream(
        spark, _events_dir(sf_dir, tmp_path)
    ).withColumn("fingerprint", fp)
    out = str(tmp_path / "dedup_out")
    stream_ops.drain(
        stream_ops.stream_exact_dedup(src), str(tmp_path / "dedup_ckpt"), out
    )
    got = spark.read.parquet(out)

    ev = spark.read.parquet(_events_path(sf_dir)).withColumn("fingerprint", fp)
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy("ts", "event_id")
    expected = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("fingerprint", "event_id", "user_id", "ts")
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).isEmpty()
    assert expected.exceptAll(got).isEmpty()


def test_stream_osc_replication_end_to_end(spark, tmp_path):
    """Change files land -> streamed parse -> last-op-wins state table:
    file2 modifies node 100 and deletes way 200, so the final state has
    the v2 node and no way."""
    from inputosm_spark.streaming import events as stream_ops

    osc1 = """<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
  <create>
    <node id="100" lat="1.0" lon="2.0" version="1"
          timestamp="2021-01-01T00:00:00Z" changeset="1">
      <tag k="name" v="v1"/>
    </node>
    <way id="200" version="1" timestamp="2021-01-01T00:00:00Z"
         changeset="1"><nd ref="100"/></way>
  </create>
</osmChange>
"""
    osc2 = """<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
  <modify>
    <node id="100" lat="1.5" lon="2.5" version="2"
          timestamp="2021-01-02T00:00:00Z" changeset="2">
      <tag k="name" v="v2"/>
    </node>
  </modify>
  <delete>
    <way id="200" version="2" timestamp="2021-01-02T00:00:00Z"
         changeset="2"/>
  </delete>
</osmChange>
"""
    landing = tmp_path / "repl_landing"
    landing.mkdir()
    # file names carry the replication sequence -> lexicographic order
    (landing / "000001.osc").write_text(osc1)
    (landing / "000002.osc").write_text(osc2)

    state = str(tmp_path / "repl_state")
    stream_ops.stream_osc_replication(
        spark, str(landing), state, str(tmp_path / "repl_ckpt")
    )
    got = spark.read.parquet(state)
    rows = {(r.kind, r.id): r for r in got.collect()}
    assert set(rows) == {("node", 100)}
    n = rows[("node", 100)]
    assert n.version == 2 and n.tags == {"name": "v2"}
    assert n.raw_lat == 15_000_000 and n.raw_lon == 25_000_000


def test_stream_osc_replication_numeric_file_order(spark, tmp_path):
    """Non-zero-padded landing-zone names: 9.osc then 10.osc. The
    last-op-wins resolution must order by the NUMERIC file sequence —
    lexicographically '10.osc' < '9.osc', which would replay the stale
    v1 node as latest (round-3 ADVICE)."""
    from inputosm_spark.streaming import events as stream_ops

    osc_v1 = """<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
  <create>
    <node id="100" lat="1.0" lon="2.0" version="1"
          timestamp="2021-01-01T00:00:00Z" changeset="1">
      <tag k="name" v="v1"/>
    </node>
  </create>
</osmChange>
"""
    osc_v2 = """<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6">
  <modify>
    <node id="100" lat="1.5" lon="2.5" version="2"
          timestamp="2021-01-02T00:00:00Z" changeset="2">
      <tag k="name" v="v2"/>
    </node>
  </modify>
</osmChange>
"""
    landing = tmp_path / "repl_landing_np"
    landing.mkdir()
    (landing / "9.osc").write_text(osc_v1)
    (landing / "10.osc").write_text(osc_v2)

    state = str(tmp_path / "repl_state_np")
    stream_ops.stream_osc_replication(
        spark, str(landing), state, str(tmp_path / "repl_ckpt_np")
    )
    got = spark.read.parquet(state)
    rows = {(r.kind, r.id): r for r in got.collect()}
    assert set(rows) == {("node", 100)}
    assert rows[("node", 100)].version == 2
    assert rows[("node", 100)].tags == {"name": "v2"}


def test_stream_stream_attribution_matches_batch(spark, sf_dir, tmp_path):
    """Round-5 §2.7 extension: the watermarked stream-stream
    click->purchase attribution join must emit exactly the batch twin's
    pairs once the stream drains (availableNow)."""
    import os

    from inputosm_spark.streaming import events as se

    src = tmp_path / "events_src"
    src.mkdir()
    os.symlink(
        os.path.join(sf_dir, "events.parquet"), src / "events.parquet"
    )
    stream = se.read_event_stream(spark, str(src))
    se.drain(
        se.attribution_join(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"),
        ),
        str(tmp_path / "ckpt"), str(tmp_path / "out"),
    )

    batch_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    want = se.attribution_join(
        batch_events.filter("event_type = 'click'"),
        batch_events.filter("event_type = 'purchase'"),
    )
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_pbf_sink_roundtrips(spark, sf_dir, tmp_path):
    """Streaming K1 (round 5): an entity stream drained through
    run_pbf_sink_stream produces .osm.pbf shards whose decoded union
    equals the batch source — the write-side twin of read_pbf_stream."""
    import glob
    import os

    from pyspark.sql import functions as F

    from inputosm_spark.sources import pbf, pbf_encode

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ent = orders.select(
        F.lit("node").alias("kind"),
        F.col("o_orderkey").alias("id"),
        (F.col("o_orderkey") % 1000 - 500).cast("long").alias("raw_lat"),
        (F.col("o_custkey") % 2000 - 1000).cast("long").alias("raw_lon"),
        F.expr("CAST(array() AS array<long>)").alias("node_refs"),
        F.expr(
            "CAST(array() AS array<struct<type:int,ref:long,role:string>>)"
        ).alias("members"),
        F.create_map(F.lit("p"), F.col("o_orderpriority")).alias("tags"),
        F.lit(1).cast("int").alias("version"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_custkey").alias("changeset"),
    )
    src = tmp_path / "ent_src"
    ent.repartition(3).write.parquet(str(src))

    stream = spark.readStream.schema(pbf._ENTITY_DDL).parquet(str(src))
    pbf_encode.run_pbf_sink_stream(
        stream, str(tmp_path / "ckpt"), str(tmp_path / "out")
    )

    shards = sorted(
        glob.glob(str(tmp_path / "out" / "batch=*" / "*.osm.pbf"))
    )
    assert shards
    back = pbf.read_pbf_entities(spark, shards)
    agg = lambda df: df.agg(  # noqa: E731
        F.count("*").alias("n"),
        F.sum("id").alias("s_id"),
        F.sum("raw_lat").alias("s_lat"),
        F.sum("raw_lon").alias("s_lon"),
        F.sum("changeset").alias("s_cs"),
        F.countDistinct(F.element_at("tags", F.lit("p"))).alias("n_p"),
    ).collect()[0]
    assert agg(back) == agg(ent)


def test_stream_od_transitions_matches_batch(spark, sf_dir, tmp_path):
    """Stateful OD detector vs the batch lag-window twin, with state
    exercised ACROSS micro-batches: the trajectory is split into two
    time-ordered parquet files drained one per trigger, so every
    user's last cell must carry through GroupState between batches."""
    from pyspark.sql import Window

    from inputosm_spark.functions import cells

    ev = spark.read.parquet(_events_path(sf_dir))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "ts", "event_id").withColumn(
        "__seq", F.row_number().over(w)
    )
    pid = F.col("user_id") * F.lit(1000) + F.floor(
        (F.col("__seq") - 1) / F.lit(4)
    )
    lat, lon = cells.point_exprs(pid)
    obs = seq.select("user_id", "ts", lat, lon)

    # two time-ordered landing files (cross-batch state carry)
    med = obs.approxQuantile("user_id", [0.5], 0.0)[0]  # any split works;
    # split on TIME so batch 2 continues batch 1's trajectories
    tmed = ev.agg(F.expr("percentile(unix_timestamp(ts), 0.5)")).first()[0]
    landing = tmp_path / "od_landing"
    landing.mkdir()
    obs.filter(F.unix_timestamp("ts") <= tmed).coalesce(1).write.parquet(
        str(landing / "b1.parquet")
    )
    obs.filter(F.unix_timestamp("ts") > tmed).coalesce(1).write.parquet(
        str(landing / "b2.parquet")
    )
    src = (
        spark.readStream.schema(
            "user_id long, ts timestamp, lat_e4 long, lon_e4 long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing) + "/*")
    )
    out = str(tmp_path / "od_out")
    stream_ops.drain(
        stream_ops.stream_od_transitions(src, 6), str(tmp_path / "od_ckpt"), out
    )
    got = spark.read.parquet(out)

    cell = cells.cell_id_expr("lat_e4", "lon_e4", 6)
    w2 = Window.partitionBy("user_id").orderBy("ts", "__cell")
    batch = (
        obs.select("user_id", "ts", cell.alias("__cell"))
        .withColumn("__prev", F.lag("__cell").over(w2))
        .filter(F.col("__prev").isNotNull() & (F.col("__prev") != F.col("__cell")))
        .select(
            "user_id",
            F.col("__prev").alias("from_cell"),
            F.col("__cell").alias("to_cell"),
            F.col("ts").alias("move_ts"),
        )
    )
    # the stream writes TIMESTAMP (tz) while the batch frame carries
    # the parquet's TIMESTAMP_NTZ — normalize both to epoch seconds
    norm = lambda df: df.select(
        "user_id", "from_cell", "to_cell",
        F.unix_timestamp(F.col("move_ts").cast("timestamp")).alias("mts"),
    )
    got_n, batch_n = norm(got), norm(batch)
    assert got.count() == batch.count() and got.count() > 0
    assert got_n.exceptAll(batch_n).isEmpty() and batch_n.exceptAll(got_n).isEmpty()


def test_builtin_session_window_agrees_with_gaps_and_islands(spark, sf_dir):
    """Cross-validation of two INDEPENDENT sessionization
    implementations: Spark's built-in session_window (merge while the
    next event starts strictly before window end) vs the engine's
    lag+cumsum gaps-and-islands (new session when the truncated-second
    gap exceeds 1800). On second-truncated timestamps a 1801-second
    session_window gap is the exact same rule (diff <= 1800 merges),
    so per-session (user, start, end, n) must match row for row."""
    from pyspark.sql import Window

    ev = (
        spark.read.parquet(_events_path(sf_dir))
        .select(
            "user_id", "event_id",
            F.unix_timestamp("ts").cast("timestamp").alias("ts"),
        )
    )
    builtin = (
        ev.groupBy("user_id", F.session_window("ts", "1801 seconds"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("start_s"),
            "n_events",
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts")
               - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0).alias("new_sess"),
    )
    ours = (
        gaps.select(
            "user_id", "ts",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("sess_idx"),
        )
        .groupBy("user_id", "sess_idx")
        .agg(
            F.min(F.unix_timestamp("ts")).alias("start_s"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "start_s", "n_events")
    )
    assert builtin.count() == ours.count() and builtin.count() > 0
    assert builtin.exceptAll(ours).isEmpty()
    assert ours.exceptAll(builtin).isEmpty()
