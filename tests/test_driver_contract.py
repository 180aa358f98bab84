"""Driver-contract meta-tests: every `queries()` entry must execute
and return rows with a stable schema; every oracle string must be
well-formed DuckDB SQL. Catches a broken registration before the
driver's correctness gate does."""

from __future__ import annotations

import duckdb
import json
import os
import pytest
from pyspark.sql import functions as F


def _entry():
    import __spark_entry__ as m

    return m


def test_every_query_runs_and_returns_rows(spark, sf_dir):
    m = _entry()
    failures = []
    for name, fn in m.queries().items():
        try:
            df = fn(spark, sf_dir)
            n = df.count()
            if n == 0 and name not in ("except_users",):  # tiny-scale empties
                failures.append((name, "0 rows"))
            _ = df.schema.simpleString()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"{type(e).__name__}: {e}"[:120]))
    assert not failures, failures


def test_every_oracle_parses_in_duckdb(sf_dir):
    """EXPLAIN every oracle against the real views — malformed SQL or a
    schema drift fails here in seconds, not in the driver round. No
    output column may bind as HUGEINT (DuckDB's type for a bare sum()
    over BIGINT): pandas reads it as float64, whose printed hash form
    drifts from Spark's BIGINT once a sum passes 9 digits."""
    m = _entry()
    con = duckdb.connect()
    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad, hugeint = [], []
    for name, sql in m.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            bad.append((name, str(e)[:120]))
            continue
        if "HUGEINT" in map(str, con.sql(sql).types):
            hugeint.append(name)
    assert not bad, bad
    assert not hugeint, hugeint


def test_entry_returns_flagship(spark):
    m = _entry()
    df = m.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"cell7", "n_docs", "n_spans", "text_chars"}


def test_bench_prints_one_json_line(spark, sf_dir, capsys, monkeypatch):
    """bench.py's side of the contract: one JSON line with the fixed
    keys, timing exactly the named queries; an unknown name raises."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("BENCH_REPS", "1")
    # get_spark re-applies its shuffle width to the shared test session
    monkeypatch.setenv("INPUTOSM_SHUFFLE",
                       spark.conf.get("spark.sql.shuffle.partitions"))
    assert bench.main(["count_all"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    out = json.loads(lines[0])
    assert set(out) == {"metric", "value", "unit", "queries", "sf", "cpus",
                        "n_documents", "spatial_docs_per_sec"}
    assert list(out["queries"]) == ["count_all"]
    with pytest.raises(ValueError, match="no_such_query"):
        bench.main(["no_such_query"])


def test_oracle_keys_subset_of_queries():
    m = _entry()
    assert set(m.oracle_sql()) <= set(m.queries())


def test_rows_only_queries_are_the_documented_exceptions():
    """Every queries() entry must carry an oracle except the explicit,
    documented rows-only set (approximate sketches can't hash-match a
    different engine's sketch). Growth of this set is a regression."""
    import __spark_entry__ as m

    rows_only = set(m.queries()) - set(m.oracle_sql())
    assert rows_only == {
        "approx_distinct_cells",   # HLL++ sketch; bounded by exact twin
        "approx_event_percentiles",  # percentile sketch; bounded by exact twin
    }, rows_only


def test_approx_distinct_cells_error_bound(spark, sf_dir):
    """r6 directive #2: `approx_distinct_cells` is the one catalog
    entry with no cross-engine oracle (HLL++ is engine-specific).
    Bound it instead: every group's estimate must sit within a 5x-rsd
    envelope of the oracle-gated exact twin (rsd=0.01; HLL++ under a
    fixed hash is DETERMINISTIC, so this is a stable gate, not a
    flaky statistical one), and the n_docs side must match exactly."""
    from inputosm_spark.queries_catalog import queries

    q = queries()
    approx = {
        r.cell3: (r.approx_cells9, r.n_docs)
        for r in q["approx_distinct_cells"](spark, sf_dir).collect()
    }
    exact = {
        r.cell3: (r.n_cells9, r.n_docs)
        for r in q["distinct_cells_exact"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact) and len(exact) > 0
    for cell3, (est, nd) in approx.items():
        true, nd_exact = exact[cell3]
        assert nd == nd_exact
        assert abs(est - true) <= max(5, 0.05 * true), (
            f"cell3={cell3}: HLL estimate {est} outside 5x-rsd "
            f"envelope of exact {true}"
        )


def test_approx_event_percentiles_envelope(spark, sf_dir):
    """Twin gate for the rows-only percentile sketch: with accuracy
    10000 the Greenwald-Khanna sketch's rank error is <= n/10000, so
    on sf0.01 (n per group ~ thousands) the estimate must land within
    the value-span of a +-max(1, n/1000) rank window around the exact
    interpolated percentile. The n column must match exactly."""
    from inputosm_spark.queries_catalog import queries

    q = queries()
    approx = {
        r.event_type: (r.ap50, r.ap90, r.n)
        for r in q["approx_event_percentiles"](spark, sf_dir).collect()
    }
    exact = {
        r.event_type: (r.p50, r.p90, r.n)
        for r in q["event_percentiles"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact) and len(exact) > 0
    # independent per-group value arrays for the rank-window bound
    import numpy as np

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", F.round("value", 2).alias("v"))
        .collect()
    )
    vals: dict[str, list[float]] = {}
    for r in rows:
        vals.setdefault(r.event_type, []).append(r.v)
    for et, (ap50, ap90, n) in approx.items():
        p50, p90, n_exact = exact[et]
        assert n == n_exact
        a = np.sort(np.array(vals[et]))
        slack = max(1, n // 1000)
        for est, frac in ((ap50, 0.5), (ap90, 0.9)):
            lo = a[max(0, int(frac * (n - 1)) - slack)]
            hi = a[min(n - 1, int(frac * (n - 1)) + 1 + slack)]
            assert lo <= est <= hi, (et, frac, est, lo, hi)
