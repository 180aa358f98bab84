"""MinHash/LSH and exact-Jaccard dedup operators: the shared band
format, incremental new-vs-history probing (also against a bucketed
history table), and prefix filtering equal to brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


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


def test_incremental_dedup_rejects_overlapping_ids(spark):
    """Disjointness guard rides the probe join as an in-plan
    assert_true (r5 verdict #6: zero extra driver jobs): a shared id's
    band rows collide on both sides and the job RAISES at execution.
    eager_check=True preserves the exhaustive build-time ValueError."""
    from inputosm_spark.operators import dedup

    df = spark.createDataFrame(
        [("1", "a b c d"), ("2", "e f g h")], "doc_id string, text string"
    )
    plan = dedup.incremental_dedup_pairs(df, df)  # builds with no job
    with pytest.raises(Exception, match="share doc_ids|share.*doc_ids"):
        plan.collect()
    with pytest.raises(ValueError, match="share.*doc_ids"):
        dedup.incremental_dedup_pairs(df, df, eager_check=True)


def test_incremental_probe_against_bucketed_history_bands(
    spark, sf_dir, tmp_path
):
    """The 100 TB shape incremental_dedup_pairs documents: persist the
    HISTORY's LSH bands as a bucketed table keyed on the band value,
    and a new batch's probe join exchanges ONLY the batch side —
    plan-asserted (1 Exchange vs 2 for an unbucketed history)."""
    from pyspark.sql import functions as F

    from inputosm_spark.operators import dedup
    from inputosm_spark.plans import layout

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text",
                F.col("doc_id").alias("__id"))
    )
    hist = docs.filter(F.pmod("__id", F.lit(10)) != 7).drop("__id")
    newb = docs.filter(F.pmod("__id", F.lit(10)) == 7).drop("__id")
    bkey = F.concat_ws("|", F.col("band").cast("string"), "band_val")

    ob = dedup.minhash_bands(
        dedup.minhash_signatures(dedup.word_shingles(hist, n=3), 4)
    ).select(F.col("doc_id").alias("doc_b"), bkey.alias("bkey"))
    nb = dedup.minhash_bands(
        dedup.minhash_signatures(dedup.word_shingles(newb, n=3), 4)
    ).select(F.col("doc_id").alias("doc_a"), bkey.alias("bkey"))

    layout.write_bucketed_table(
        ob, "hist_bands_t", str(tmp_path / "hist_bands"),
        key="bkey", n_buckets=8,
    )
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny fixture would broadcast and mask the bucketed layout
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = spark.table("hist_bands_t").join(nb, "bkey")
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # the history side reads its bucketed layout (no Exchange
        # between the scan and the join); the batch side keeps its own
        # pipeline exchanges, so compare AGAINST the unbucketed control
        assert "Bucketed: true" in plan, plan
        control = ob.join(nb, "bkey")
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") < cplan.count("Exchange"), (
            plan, cplan
        )
        # and the probe result matches the unbucketed control
        got = {(r.doc_a, r.doc_b) for r in
               probe.select("doc_a", "doc_b").distinct().collect()}
        want = {(r.doc_a, r.doc_b) for r in
                control.select("doc_a", "doc_b").distinct().collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        spark.sql("DROP TABLE IF EXISTS hist_bands_t")


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
