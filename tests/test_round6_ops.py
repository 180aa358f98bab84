"""Round-6 gates: HLL error envelope, hermetic PBF roundtrip, shared
LSH band format."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F


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


def test_pbf_roundtrip_hermetic(spark, sf_dir):
    """r6 directive #1: two interleaved invocations must not share any
    filesystem state — build A, build B (which under the old fixed
    sf-keyed dir would rmtree/rewrite A's shards), then read A. Both
    must agree, and no shard temp dirs may survive."""
    from inputosm_spark.queries_catalog import _pbf_roundtrip_frame

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "inputosm_pbf_rt_*")))
    a = _pbf_roundtrip_frame(spark, sf_dir, mod=4)
    b = _pbf_roundtrip_frame(spark, sf_dir, mod=4)
    rows_a = sorted(
        (r.id, r.raw_lat, r.raw_lon, r.changeset)
        for r in a.select("id", "raw_lat", "raw_lon", "changeset").collect()
    )
    rows_b = sorted(
        (r.id, r.raw_lat, r.raw_lon, r.changeset)
        for r in b.select("id", "raw_lat", "raw_lon", "changeset").collect()
    )
    assert rows_a == rows_b and len(rows_a) > 0
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "inputosm_pbf_rt_*")))
    assert after == before  # every invocation cleans its own mkdtemp


def test_minhash_bands_single_pass_and_format(spark):
    """The band_val format is load-bearing for persisted bucketed
    history tables (minhash_bands docstring): pin it — band b's value
    is 'sig_{2b}|sig_{2b+1}' — and assert the explode-based fan-out
    emits exactly n_bands rows per doc (one upstream pass, no
    unionAll re-execution)."""
    from inputosm_spark.operators import dedup

    sigs = spark.createDataFrame(
        [("d1", "aa", "bb", "cc", "dd")],
        "doc_id string, sig_0 string, sig_1 string, "
        "sig_2 string, sig_3 string",
    )
    rows = sorted(
        (r.band, r.band_val)
        for r in dedup.minhash_bands(sigs, 2, 2).collect()
    )
    assert rows == [(0, "aa|bb"), (1, "cc|dd")]
    plan = dedup.minhash_bands(sigs, 2, 2)._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan  # explode fan-out, not unionAll branches


def test_lsh_candidate_pairs_uses_shared_banding(spark):
    """Guard against format drift between the self-join path and the
    incremental/bucketed-history path: both must produce candidate
    pairs from the SAME band rows."""
    from inputosm_spark.operators import dedup

    docs = spark.createDataFrame(
        [("1", "a b c d e"), ("2", "a b c d f"), ("3", "x y z w q")],
        "doc_id string, text string",
    )
    sigs = dedup.minhash_signatures(dedup.word_shingles(docs, n=3), 4)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sigs, 2, 2).collect()
    }
    bands = dedup.minhash_bands(sigs, 2, 2)
    manual = {
        (r.a, r.b)
        for r in bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
        .collect()
    }
    assert pairs == manual and ("1", "2") in pairs


# --- round-6 wave 2: bloom / prefix-filter ----------------------------------


def test_bloom_superset_and_deterministic(spark):
    """Bloom pass set is a SUPERSET of true matches, and the exact
    bit pattern (so the false-positive set too) is reproducible."""
    from inputosm_spark.operators import bloom

    small = spark.range(0, 50).select((F.col("id") * 7).alias("k"))
    big = spark.range(0, 5000).select(F.col("id").alias("key"))
    w1 = bloom.build_bloom_words(small, "k")
    w2 = bloom.build_bloom_words(small, "k")
    assert w1 == w2  # deterministic build
    passed = {
        r.key
        for r in big.filter(bloom.might_contain_expr(w1, F.col("key"))).collect()
    }
    true_keys = {i * 7 for i in range(50)}
    assert true_keys <= passed  # no false negatives, ever
    # FP rate sanity: 150 set bits in 8064 -> well under 1% at k=3
    assert len(passed - true_keys) < 50


def test_prefix_filter_equals_bruteforce(spark):
    """The prefix-filtered pair set must EQUAL the brute-force
    all-pairs Jaccard>=t set (no probabilistic misses — that is the
    operator's whole contract vs MinHash)."""
    from inputosm_spark.operators.dedup import prefix_filter_pairs, word_shingles

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "a completely different sentence with other words here"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "words that share nothing with anything else at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_pairs(df, threshold_e6=500_000).collect()
    }
    tok = word_shingles(df, n=3)
    sets = {
        r.doc_id: set(r.toks)
        for r in tok.groupBy("doc_id").agg(F.collect_set("shingle").alias("toks")).collect()
    }
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                uni = len(sets[a] | sets[b])
                if inter * 1_000_000 >= 500_000 * uni:
                    want.add((a, b))
    assert got == want and len(want) >= 1


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
