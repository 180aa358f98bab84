"""Deterministic sampling: key-functional stability (no reshuffles on
corpus growth), ratio sanity, and filter-only semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inputosm_spark.operators import sampling


def test_split_ratios_and_stability(spark):
    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    split1 = {r.doc_id: r.split
              for r in sampling.train_val_test_split(df, "doc_id").collect()}
    n = len(split1)
    counts = {}
    for s in split1.values():
        counts[s] = counts.get(s, 0) + 1
    assert abs(counts["train"] / n - 0.80) < 0.02
    assert abs(counts["val"] / n - 0.10) < 0.02
    assert abs(counts["test"] / n - 0.10) < 0.02

    # key-functional: doubling the corpus must not move ANY old row
    big = spark.range(40_000).select(F.col("id").alias("doc_id"))
    split2 = {r.doc_id: r.split
              for r in sampling.train_val_test_split(big, "doc_id").collect()}
    assert all(split2[k] == v for k, v in split1.items())


def test_stratified_sample_rates_and_subset(spark):
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.pmod("id", F.lit(2)) == 0, "a").otherwise("b").alias("st"),
    )
    out = sampling.stratified_sample(df, "st", {"a": 100, "b": 20}, "doc_id")
    got = out.groupBy("st").count().collect()
    by = {r.st: r["count"] for r in got}
    assert by["a"] == 5_000                      # 100% kept
    assert abs(by["b"] / 5_000 - 0.20) < 0.03    # ~20% kept
    # unknown strata are dropped entirely
    out2 = sampling.stratified_sample(df, "st", {"a": 100}, "doc_id")
    assert out2.filter("st = 'b'").count() == 0


def test_domain_topk_matches_single_window_on_skew(spark):
    """Two-phase per-group top-k == the naive one-window plan, on a
    fixture where one hot group dominates and is spread over many
    input partitions (the case the pre-prune exists for)."""
    from pyspark.sql import Window, functions as F

    from inputosm_spark.operators import sampling

    rows = [(i, "hot" if i % 10 else f"cold{i}", (i * 37) % 1000)
            for i in range(2000)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    ).repartition(16)
    order = [F.desc("n_chars"), F.asc("doc_id")]
    got = sampling.domain_topk(df, "source", order, k=7).select(
        "source", "doc_id", "rank"
    )
    w = Window.partitionBy("source").orderBy(*order)
    want = (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 7)
        .select("source", "doc_id", "rank")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the hot group is genuinely capped
    assert got.filter(F.col("source") == "hot").count() == 7


def test_token_shards_recursive_carry_small_buckets(spark):
    """bucket=4 on 300 docs forces ALL carry levels (75 bucket-summary
    rows -> 19 super-buckets -> terminal triangular join); shard
    assignment must equal the naive global cumsum."""
    from pyspark.sql import functions as F

    from inputosm_spark.operators import sampling

    rows = [(i, " ".join("w" for _ in range((i * 13) % 9 + 1)))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    got = {r.doc_id: (r.n_tokens, r.shard)
           for r in sampling.token_shards(df, budget=50, bucket=4).collect()}
    cum = 0
    for i in range(300):
        n = (i * 13) % 9 + 1
        assert got[i] == (n, cum // 50), (i, got[i], (n, cum // 50))
        cum += n


def test_doc_chunks_cover_and_overlap(spark):
    from inputosm_spark.operators import sampling

    texts = [
        (0, " ".join(f"w{i}" for i in range(100))),
        (1, " ".join(f"w{i}" for i in range(32))),   # exactly one chunk
        (2, " ".join(f"w{i}" for i in range(33))),   # spills into two
        (3, "one two"),                              # shorter than size
        (4, ""),                                     # empty doc
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rows = sampling.doc_chunks(df, size=32, overlap=8).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in texts:
        toks = text.split()
        chunks = sorted(by_doc[doc_id], key=lambda r: r.chunk_id)
        stride = 32 - 8
        # stride-prefix reconstruction == original token stream
        recon: list[str] = []
        for i, c in enumerate(chunks):
            ct = c.chunk_text.split() if c.chunk_text else []
            assert len(ct) == c.n_tokens
            recon.extend(ct if i == len(chunks) - 1 else ct[:stride])
            # consecutive chunks overlap by exactly `overlap` tokens
            if i + 1 < len(chunks):
                nxt = chunks[i + 1].chunk_text.split()
                assert ct[stride:] == nxt[: len(ct) - stride]
        # the final chunk may re-cover a tail the previous chunk already
        # emitted (clamped window); drop the duplicated prefix
        assert " ".join(recon[: len(toks)]) == " ".join(toks)
    assert len(by_doc[1]) == 1
    assert len(by_doc[2]) == 2
    assert len(by_doc[4]) == 1 and by_doc[4][0].n_tokens == 0


def test_priority_sample_over_bound_weight_raises(spark):
    from inputosm_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 10_000)], "doc_id long, weight long"  # 1e4 * 1e12 > 2^53
    )
    with pytest.raises(Exception, match="priority_sample"):
        sampling.priority_sample(df, "weight", "doc_id", k=1).collect()
    # weight so large that weight * scale overflows int64 itself: the
    # guard compares against the bound WITHOUT multiplying (and leads
    # the addition), so the user still gets the named diagnostic, not
    # a generic ANSI ARITHMETIC_OVERFLOW (r5 ADVICE)
    huge = spark.createDataFrame(
        [(1, 100_000_000)], "doc_id long, weight long"
    )
    with pytest.raises(Exception, match="priority_sample"):
        sampling.priority_sample(huge, "weight", "doc_id", k=1).collect()
