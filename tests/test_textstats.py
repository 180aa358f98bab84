"""Text-quality operators (PII scrub, Gopher and C4 rules) on small
hand-built documents with known verdicts: the catalog oracles cover the
driver's corpus, these cover adversarial inputs."""

from __future__ import annotations


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
