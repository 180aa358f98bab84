"""Round-5 breadth operators: doc_chunks, pii_scrub — each checked against an independent local
reference (the catalog oracle covers the fixed driver shapes; these
cover randomized/adversarial inputs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


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


def test_pii_scrub_counts_and_replaces(spark):
    from inputosm_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (0, "mail me at jo.doe+x@sub.example.org or call +4915123456789"),
            (1, "server at 192.168.0.1 and 10.0.0.255 no mail"),
            (2, "clean text only"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textstats.pii_scrub(df).collect()}
    assert (rows[0].n_email, rows[0].n_ipv4, rows[0].n_phone) == (1, 0, 1)
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_phone) == (0, 2, 0)
    assert (rows[2].n_email, rows[2].n_ipv4, rows[2].n_phone) == (0, 0, 0)
    import hashlib

    expect = "mail me at [EMAIL] or call [PHONE]"
    assert rows[0].scrubbed_md5 == hashlib.md5(expect.encode()).hexdigest()


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


def test_event_path_ngrams_counts(spark):
    from inputosm_spark.operators import temporal

    rows = [
        (1, 1, "2024-01-01 00:00:00", "a"),
        (1, 2, "2024-01-01 00:01:00", "b"),
        (1, 3, "2024-01-01 00:02:00", "c"),
        (1, 4, "2024-01-01 00:03:00", "a"),
        (2, 5, "2024-01-01 00:00:00", "a"),
        (2, 6, "2024-01-01 00:01:00", "b"),
        (2, 7, "2024-01-01 00:02:00", "c"),
        (3, 8, "2024-01-01 00:00:00", "x"),  # < n events: no grams
        (3, 9, "2024-01-01 00:01:00", "y"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.path: r.n for r in temporal.event_path_ngrams(df, n=3).collect()}
    assert got == {"a>b>c": 2, "b>c>a": 1}


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


def test_gopher_flags_known_documents(spark):
    from inputosm_spark.operators import textstats

    good = " ".join(
        ["the", "be", "to", "of", "and"] + [f"word{i}" for i in range(60)]
    )
    rows = [
        (0, good),                                   # passes everything
        (1, "too short of the"),                     # fails word count
        (2, good + " " + " ".join(["#"] * 30)),      # fails symbol ratio
        (3, " ".join(["123456"] * 80)),              # fails alpha + stops
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textstats.gopher_quality_flags(df).collect()}
    assert got[0].keep
    assert not got[1].keep and not got[1].ok_count
    assert not got[2].keep and not got[2].ok_symbols
    assert not got[3].keep and not got[3].ok_alpha and not got[3].ok_stops
    # integer fixed-point mean length: doc 3 words are all 6 chars
    assert got[3].mean_word_len_e4 == 60000


def test_c4_flags_known_documents(spark):
    from inputosm_spark.operators import textstats

    rows = [
        (0, "one two three four five. six seven eight nine ten! "
            "eleven twelve thirteen fourteen fifteen?"),   # passes
        (1, "too few sentences here."),                     # < 3 sentences
        (2, "a b. c d. e f."),                              # short sentences
        (3, "function() { return 1; }. and more. and more."),  # brace
        (4, "Lorem ipsum dolor sit amet. more words here ok. "
            "third sentence is right here."),               # lorem
        (5, "no terminal punct one two three. two more words four five. "
            "three four five six seven"),                   # no terminal
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.c4_quality_flags(df).collect()}
    assert got[0].keep
    assert not got[1].ok_n_sentences
    assert not got[2].ok_sentence_len
    assert not got[3].ok_no_braces
    assert not got[4].ok_no_lorem
    assert not got[5].ok_terminal_punct
