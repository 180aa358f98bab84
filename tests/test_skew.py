"""Skew handling: salted two-level aggregation is algebraically exact,
hot-key detection finds the dense cells, salted repartition preserves
rows and actually spreads the hot key."""

from __future__ import annotations

from pyspark.sql import functions as F

from inputosm_spark.functions import cells
from inputosm_spark.operators import skew
from inputosm_spark.sources.registry import load_table


def _keyed(spark, sf_dir, res=2):
    docs = load_table(spark, sf_dir, "documents")
    lat, lon = cells.point_exprs("doc_id")
    return docs.select(cells.cell_id_expr(lat, lon, res).alias("cell"))


def test_salted_count_equals_plain(spark, sf_dir):
    keyed = _keyed(spark, sf_dir)
    plain = keyed.groupBy("cell").agg(F.count("*").alias("cnt"))
    salted = skew.salted_count(keyed, "cell", n_salt=8)
    assert salted.exceptAll(plain).isEmpty() and plain.exceptAll(salted).isEmpty()


def test_salted_agg_equals_plain(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    lat, lon = cells.point_exprs("doc_id")
    keyed = docs.select(cells.cell_id_expr(lat, lon, 2).alias("cell"), "n_chars")
    plain = keyed.groupBy("cell").agg(
        F.sum("n_chars").alias("sum_n_chars"), F.max("n_chars").alias("max_n_chars")
    )
    salted = skew.salted_agg(keyed, "cell", {"n_chars": "sum"}, n_salt=8).join(
        skew.salted_agg(keyed, "cell", {"n_chars": "max"}, n_salt=8), "cell"
    )
    j = plain.join(salted, "cell")
    assert j.filter(
        (plain.sum_n_chars != salted.sum_n_chars)
        | (plain.max_n_chars != salted.max_n_chars)
    ).isEmpty()
    assert j.count() == plain.count()


def test_hot_keys_finds_dense_cells(spark, sf_dir):
    # res 1 = 8 world cells -> the hash-uniform corpus puts ~12.5% in
    # each, so a 5% threshold must flag them (hot-set detection works)
    keyed = _keyed(spark, sf_dir, res=1)
    total = keyed.count()
    hot = skew.hot_keys(keyed, "cell", threshold_ratio=0.05)
    rows = hot.collect()
    assert rows, "coarse res-1 cells must concentrate enough to be hot"
    for r in rows:
        assert r.cnt > total * 0.05


def test_repartition_salted_preserves_rows_and_spreads(spark, sf_dir):
    keyed = _keyed(spark, sf_dir, res=1)
    hot = skew.hot_keys(keyed, "cell", threshold_ratio=0.05)
    out = skew.repartition_salted(keyed, "cell", hot, n_salt=8)
    assert out.count() == keyed.count()
    hottest = hot.orderBy(F.desc("cnt")).first().cell
    # AQE coalesces the fixture-sized shuffle back to one physical
    # partition, so assert the operator's contract directly: rows of a
    # hot key carry >1 distinct salt (the partitioning key spreads them)
    n_salts = (
        out.filter(F.col("cell") == hottest).select("__salt").distinct().count()
    )
    assert n_salts > 1, "hot key must be spread over multiple salts"
    cold = out.filter(F.col("cell") != hottest)
    hot_ids = {r.cell for r in hot.collect()}
    assert (
        cold.filter(~F.col("cell").isin(list(hot_ids)))
        .filter(F.col("__salt") != 0)
        .isEmpty()
    ), "cold keys keep salt 0 (stay co-located)"


def test_aqe_skew_join_splits_hot_partition(spark):
    """The engine's scale contract says hot join keys are handled by
    AQE's skew-join split (session.py enables it). Prove it actually
    fires: a key carrying half the left side, thresholds lowered to
    test scale, must plan as SortMergeJoin(skew=true) with an
    AQEShuffleRead marked skewed — and the aggregate over the split
    partitions must equal the exact closed form (the split is a
    physical re-chunking, never a semantic change)."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(600000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("a"),
        )
        right = spark.range(5000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("b")
        )
        j = left.join(right, "k").select(
            F.sum(F.col("a") + F.col("b")).alias("s")
        )
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # AQEShuffleRead ... skewed
        # exact closed form: sum over joined (a+b) pairs
        import itertools

        # left rows: even ids -> k=0; odd ids -> k=id%1000 (odd ks only)
        # right: ids 0..4999, k=id%1000, 5 rows per k
        # compute with integer arithmetic, small enough to replicate
        n = 600000
        sum_b_per_k = {}
        cnt_b_per_k = {}
        for rid in range(5000):
            kk = rid % 1000
            sum_b_per_k[kk] = sum_b_per_k.get(kk, 0) + rid
            cnt_b_per_k[kk] = cnt_b_per_k.get(kk, 0) + 1
        tot = 0
        # k=0 hot: left a-values = even ids
        evens_sum = sum(range(0, n, 2))
        evens_cnt = n // 2
        tot += evens_sum * cnt_b_per_k[0] + sum_b_per_k[0] * evens_cnt
        # odd ids: k = id % 1000 (odd), a = id
        for kk in range(1, 1000, 2):
            ids = range(kk, n, 1000)
            s_a = sum(ids)
            c_a = len(ids)
            tot += s_a * cnt_b_per_k[kk] + sum_b_per_k[kk] * c_a
        assert row.s == tot
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injection_fires(spark):
    """Catalyst's runtime bloom-filter injection (the JVM-native
    counterpart of operators/dedup's explicit literal-array Bloom in
    bloom_prune_join): a selective dimension filter must inject a
    bloom_filter_agg on the build side and a might_contain probe into
    the fact scan once the size thresholds allow it. At 100 TB the
    default thresholds (10 GB application side) govern; the test
    lowers them to fixture scale to pin the MECHANISM, and checks the
    filtered result equals the unfiltered-join baseline (the bloom is
    a pure pre-filter, never a semantic change)."""
    import os

    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan
        got = {(r.o_orderpriority, r.n) for r in j.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    base = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf}/orders.parquet").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    assert got == {(r.o_orderpriority, r.n) for r in base.collect()}


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
