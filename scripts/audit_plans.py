#!/usr/bin/env python
"""Physical-plan audit: print `.explain(formatted)` for the headline
queries and assert the scale-critical plan properties hold:

* parquet scans carry PushedFilters / pruned ReadSchema,
* small dimension sides plan as BroadcastHashJoin,
* aggregations are partial+final HashAggregate (map-side combine),
* top-k plans as TakeOrderedAndProject (no global sort),
* hot paths sit inside WholeStageCodegen spans.

Writes PLANS.md at the repo root. Exit code 1 if an assertion fails.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS: dict[str, list[str]] = {
    # query -> regexes that MUST appear in the formatted plan
    "tag_filter": [r"PushedFilters: \[.*IsNotNull|EqualTo", r"codegen id"],
    "cell_assign": [r"ReadSchema: struct<doc_id:bigint>", r"codegen id"],
    "semi_lookup_join": [r"BroadcastHashJoin.*LeftSemi|LeftSemi.*Broadcast"],
    "pip_join_boxes": [r"BroadcastHashJoin"],
    "cell_rollup": [r"HashAggregate", r"partial_count|partial"],
    "topk_dense_cells": [r"TakeOrderedAndProject"],
    "tpch_q3_top_orders": [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
    "salted_cell_count": [r"HashAggregate"],
    "flagship": [r"ReadSchema: struct<doc_id:bigint,text:string>"],
    "statistics": [r"HashAggregate", r"ReadSchema: struct<l_orderkey:bigint"],
    # round 2: the GEMM-kernel ANN path — pairs come from a cogrouped
    # bucket kernel (one FlatMapCoGroupsInPandas), ranking in JVM window
    "ann_lsh_topk": [r"FlatMapCoGroupsInPandas", r"Window"],
    # cube = one Expand feeding partial+final hash aggregation — not a
    # union of per-grouping scans
    "cube_cells": [r"Expand", r"HashAggregate",
                   r"ReadSchema: struct<doc_id:bigint,n_chars:(int|bigint)>"],
    # minhash after the md5-slicing fix: map-side combine (partial_min)
    # present; string-min buffers plan as SortAggregate, which is the
    # expected physical form (HashAggregate needs mutable buffer types)
    "minhash_signatures": [r"SortAggregate|HashAggregate", r"partial_min"],
    # simhash after the de-explode: no Expand/Generate for bit
    # positions — one aggregate over the token stream
    "simhash": [r"HashAggregate"],
    # round 3: pure-integer geodesy — ONE ObjectHashAggregate over a
    # 3-column pruned scan, no window, no join (see ANTI_CHECKS)
    "way_length": [
        r"ObjectHashAggregate",
        r"ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,"
        r"l_linenumber:int>",
    ],
    "way_area": [
        r"ObjectHashAggregate",
        r"ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,"
        r"l_linenumber:int>",
    ],
    # tf table cached (feeds df-frequency AND the join), scalar n_docs
    # comes back as a broadcast nested-loop of a 1-row relation
    "tfidf_top_terms": [
        r"InMemoryTableScan",
        r"BroadcastNestedLoopJoin",
        r"ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # skew-safe as-of: every EVENT-row window partitions on
    # (key, time-bucket), never the key alone (see ANTI_CHECKS)
    "asof_user_state": [r"windowspecdefinition\(__k#\d+L?, __bck"],
    # decontamination: the test shingle set must BROADCAST — the
    # training corpus is never shuffled on the shingle key
    "contamination_overlap": [r"BroadcastHashJoin"],
    # repetition is a map-only pass: project over the scan, no shuffle
    "repetition_score": [r"ReadSchema: struct<doc_id:bigint,text:string>"],
    # two-phase per-group top-k: the pre-prune window partitions on
    # (group, input-partition) — a hot domain never serializes onto one
    # reducer — before the global (group)-partitioned ranking window
    "domain_cap": [
        r"windowspecdefinition\(source#\d+, __pid",
        r"windowspecdefinition\(source#\d+, n_chars",
    ],
    # split lookups ride broadcast joins on the narrow (doc_id, split)
    # projection — the near-dup pair stream is never sort-merged
    # against the corpus
    "split_leakage": [r"BroadcastHashJoin"],
    # the common-bigram set is bounded (< m rows) and must BROADCAST —
    # the corpus is never shuffled on the bigram key (see ANTI)
    "bigram_familiarity": [r"BroadcastHashJoin"],
    # the rectangle join is an EQUI-join on covering grid cells —
    # never a cross/nested-loop product (see ANTI)
    "box_overlap_join": [r"Join"],
    # all five zoom levels aggregate through ONE map-side-combined
    # shuffle (explode -> partial -> single Exchange; see ANTI)
    "tile_pyramid": [
        r"Generate",
        r"partial_count",
        r"ReadSchema: struct<doc_id:bigint>",
    ],
    # focal density: same single-shuffle contract (ring explode ->
    # map-side partial_sum -> one Exchange)
    "ring_density": [
        r"Generate",
        r"partial_sum",
        r"ReadSchema: struct<doc_id:bigint>",
    ],
    # the span-sequence fingerprint is a map-only pass (see ANTI)
    "span_fingerprint": [r"ReadSchema: struct<doc_id:bigint,text:string>"],
    # the doc-row cumsum window must partition on the id-range bucket;
    # the bucket summary's own carry must partition on the SUPER-bucket
    # (recursive carry) with the terminal offsets resolved by the tiny
    # triangular broadcast join, never a global window
    "token_shards": [
        r"windowspecdefinition\(__bck#\d+L, doc_id",
        r"windowspecdefinition\(__sb#\d+L, __bck",
        r"BroadcastNestedLoopJoin",
    ],
    # round 5: PII scrub is a map-only pass over the pruned 2-col scan
    "pii_scrub": [r"ReadSchema: struct<doc_id:bigint,text:string>"],
    # chunking is explode + slice over the scan — map-only
    "doc_chunks": [
        r"Generate",
        r"ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # pagerank: under the byte cap every iteration runs on the driver
    # and the ranks come back as a local relation (see ANTI); the
    # cached, exchange-free distributed iterations past the cap are
    # pinned by tests/test_graph.py
    "pagerank": [r"LocalTableScan"],
    # segment intersection: equi-join on covering cells, like
    # box_overlap_join — never a theta/cross join (see ANTI)
    "segment_join": [r"Join"],
    # geohash: unrolled integer expr over the 1-col pruned scan feeding
    # a map-side-combined aggregation (no UDF anywhere)
    "geohash_cells": [
        r"HashAggregate",
        r"partial_count",
        r"ReadSchema: struct<doc_id:bigint>",
    ],
    # simplification: ONE window partitioned on the way key (bounded
    # vertex counts per way), over the pruned 3-col scan
    "simplify_ways": [
        r"windowspecdefinition\(l_orderkey",
        r"ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,"
        r"l_linenumber:int>",
    ],
    # stream-stream twin: user-key EQUI-join with the time range as a
    # post-join predicate — never a pure theta join (see ANTI)
    "click_attribution": [r"Join.*user|user.*Join|HashJoin|SortMergeJoin"],
    # weighted top-k: global top-k must plan as TakeOrderedAndProject
    # (per-partition k + driver merge), never a full sort
    "priority_sample": [r"TakeOrderedAndProject"],
    # incremental probe: band equi-join, never a cross product
    "incremental_dedup": [r"Join"],
    # ordered-wedge triangles: two equi-joins + top-k, never cartesian
    "triangle_count": [r"Join", r"TakeOrderedAndProject"],
    # motif mining: groupBy user -> counting agg -> top-k
    "event_path_ngrams": [r"HashAggregate|ObjectHashAggregate",
                          r"TakeOrderedAndProject"],
    # all three precisions through ONE map-side-combined shuffle
    "geohash_pyramid": [
        r"Generate",
        r"partial_count",
        r"ReadSchema: struct<doc_id:bigint>",
    ],
    # quality rules: map-only over the pruned 2-col scan
    "gopher_filter": [r"ReadSchema: struct<doc_id:bigint,text:string>"],
    "c4_filter": [r"ReadSchema: struct<doc_id:bigint,text:string>"],
    # vector leakage audit: split lookups BROADCAST onto the pair
    # stream (narrow vec_id->split), never a sort-merge of the corpus
    "embedding_split_leakage": [r"BroadcastHashJoin"],
    # round 6 — dbscan: the cached pair stream is re-read
    # (InMemoryTableScan), not recomputed, by the count/core-edge/
    # border branches (the 3x3 probe explode lives INSIDE the cached
    # relation, so it does not print in the final plan)
    "dbscan_clusters": [r"InMemoryTableScan"],
    # staypoints: per-user windows + run aggregation ride ONE shuffle
    "staypoints": [r"Window", r"HashAggregate"],
    # bloom prune: orders scan pruned to the key column; the exact
    # probe after pruning is a broadcast, never a shuffle of orders
    "bloom_prune_join": [
        r"ReadSchema: struct<o_custkey:bigint>",
        r"BroadcastHashJoin",
    ],
    # prefix-filter similarity: aggregation present, and the verify
    # join is an equi-join (never a product — see ANTI)
    "jaccard_prefix_pairs": [r"HashAggregate", r"Join"],
    # OD flows: per-user lag window + pair-key aggregation
    "od_flows": [r"Window", r"HashAggregate"],
    # Q4: EXISTS decorrelated to a LEFT SEMI join (either build side)
    "tpch_q4_priority": [r"LeftSemi|ExistenceJoin"],
    # BFS final union: per-hop frontiers are checkpointed RDD scans
    "bfs_hops": [r"Scan ExistingRDD|InMemoryTableScan"],
    # co-location: bucketed self-equi-join over the CACHED presence
    # table (InMemoryTableScan on both sides), never a product
    "colocation_pairs": [r"InMemoryTableScan"],
    # LPA rounds are checkpoint-severed: final plan reads the last
    # round's materialized RDD, map-side-combined size rollup on top
    "label_propagation": [r"Scan ExistingRDD", r"HashAggregate"],
    # areal interpolation: two map-side Generates (x/y fan-out) into a
    # map-side-combined rollup — no join anywhere
    "areal_interpolation": [r"Generate", r"partial_sum", r"HashAggregate"],
    # sliding distinct: explode fan-out + two-phase distinct count
    "rolling_active_users": [r"Generate", r"HashAggregate"],
    # SCD2: both windows ride ONE user_id exchange (lag thins, lead
    # closes) — a second Exchange would mean a re-shuffle regression
    "scd2_history": [r"Window"],
    # media dedup: digest computed map-side; only (digest, ref) pairs
    # shuffle (partial agg before the exchange)
    "media_dedup": [r"SortAggregate|HashAggregate|ObjectHashAggregate",
                    r"partial"],
    # spatial anti-join: matched ids probe as LEFT ANTI (never a
    # row-expanding join followed by a filter)
    "pip_anti_join": [r"LeftAnti"],
    # PCA: corpus scanned ONCE into the map-side-combined d^2 gram
    # (HashAggregate over the Arrow kernel's partials); the power
    # iteration is a single grouped-map kernel over the bounded gram
    # (FlatMapGroupsInPandas), not a tiny-stage matvec parade (r7)
    "pca_component": [r"HashAggregate", r"FlatMapGroupsInPandas"],
    # pivot plans as pre-agg on (day, type) + pivotfirst on day — both
    # map-side-combined, both shuffles carry only AGGREGATED rows
    "daily_type_pivot": [r"pivotfirst", r"partial_count"],
    "value_deciles": [r"Window", r"HashAggregate"],
    # grouping sets: ONE Expand into a map-side-combined agg (cube shape)
    "grouping_sets_cells": [r"Expand", r"partial_count"],
    # melt: one Expand over a SINGLE scan (never a union of scans)
    "melt_doc_metrics": [r"Expand"],
    # raster tiles: one Exchange on tile into one Arrow kernel call per
    # partition (see ANTI)
    "raster_roundtrip": [r"MapInArrow", r"hashpartitioning\(tile"],
    # the rest of perfbench's query_mix: each plan the benchmark times
    # carries one asserted property, so a plan change shows up here
    # pixel counts pre-combine map-side before the one Exchange
    "tile_counts": [r"partial_count"],
    # corpus batches stream through one Arrow kernel (queries ride in
    # its closure), never a cross join of query x corpus rows
    "cosine_topk": [r"MapInPandas"],
    # the shipdate cutoff is pushed into the parquet scan
    "tpch_q1_pricing": [r"PushedFilters: \[IsNotNull\(l_shipdate\), "
                        r"LessThanOrEqual\(l_shipdate"],
    # both session windows partition on user_id
    "sessionize": [r"windowspecdefinition\(user_id"],
    # the dedup keep-first rank is a window over the md5 fingerprint
    "training_pipeline": [r"windowspecdefinition\(fp#"],
}

# a Python UDF node (formatted details) evaluating anything but the
# polygon cover: the PIP exact test runs in Catalyst, never in Python
# over joined point rows
_PY_EVAL_NOT_COVER = (r"(Arrow|Batch)EvalPython\nInput \[\d+\]: [^\n]*\n"
                      r"Arguments: \[(?!_cover\()")

# patterns that must NOT appear (regression = reintroduced anti-pattern)
ANTI_CHECKS: dict[str, list[str]] = {
    "pip_join_boxes": [_PY_EVAL_NOT_COVER],
    "pip_anti_join": [_PY_EVAL_NOT_COVER],
    # 16x bit explode would reappear as a second Generate (the first is
    # the token split explode)
    "simhash": [r"Generate explode.*Generate explode"],
    # pair-UDF regression: similarity ops must not evaluate a Python
    # UDF per joined pair row (BatchEvalPython/ArrowEvalPython after a
    # join); the GEMM kernel is FlatMapCoGroupsInPandas instead
    "ann_lsh_topk": [r"SortMergeJoin.*ArrowEvalPython"],
    # the sorted-array formulations must never regress to a per-way
    # window or a self-join
    "way_length": [r"Window", r"SortMergeJoin"],
    "way_area": [r"Window", r"SortMergeJoin"],
    # a window over EVENT rows partitioned by the key alone would
    # re-serialize a hot key onto one reducer
    "asof_user_state": [r"windowspecdefinition\(__k#\d+L?, __ts"],
    # map-only means NO exchange of any kind in the plan
    "repetition_score": [r"Exchange"],
    "span_fingerprint": [r"Exchange"],
    # the training side must not sort-merge on the shingle key
    "contamination_overlap": [r"SortMergeJoin"],
    # scoring must never shuffle the corpus on the bigram key
    "bigram_familiarity": [r"SortMergeJoin"],
    # a cross join here would be the O(n*m) plan the cell bucketing
    # exists to prevent
    "box_overlap_join": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    # a second Exchange would mean the pyramid regressed to per-level
    # aggregations (five scans+shuffles instead of one)
    "tile_pyramid": [r"\(\d+\) Exchange.*\(\d+\) Exchange"],
    "ring_density": [r"\(\d+\) Exchange.*\(\d+\) Exchange"],
    # NO partition-less window at ANY level: not over doc rows (global
    # single-reducer cumsum) and not the old lit(0)-partitioned summary
    # window (formats as windowspecdefinition(0, ...) — the WindowExec
    # "No Partition Defined" warning source)
    "token_shards": [
        r"windowspecdefinition\(doc_id#\d+L ASC",
        r"windowspecdefinition\(0,",
    ],
    # map-only means NO exchange of any kind in the plan
    "pii_scrub": [r"Exchange"],
    "doc_chunks": [r"Exchange"],
    "pagerank": [r"Exchange"],
    "segment_join": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    "priority_sample": [r"\(\d+\) Sort\b"],  # global sort would defeat top-k
    "incremental_dedup": [r"CartesianProduct"],
    "click_attribution": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    "triangle_count": [r"CartesianProduct"],
    # one Exchange only — per-level aggregation would be three
    "geohash_pyramid": [r"\(\d+\) Exchange.*\(\d+\) Exchange"],
    "gopher_filter": [r"Exchange"],  # map-only: no shuffle of any kind
    "c4_filter": [r"Exchange"],
    "embedding_split_leakage": [r"SortMergeJoin.*split|split.*SortMergeJoin"],
    # round 6
    "dbscan_clusters": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    # a partition-less window would single-reduce the event stream
    "staypoints": [r"windowspecdefinition\(0,",
                   r"\(\d+\) Exchange.*\(\d+\) Exchange"],
    "bloom_prune_join": [r"SortMergeJoin"],
    "jaccard_prefix_pairs": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    # a partition-less window would single-reduce the event stream
    "od_flows": [r"windowspecdefinition\(0,"],
    "tpch_q4_priority": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    "colocation_pairs": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    "label_propagation": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    "areal_interpolation": [r"Join"],  # pure fan-out + rollup, no join
    "melt_doc_metrics": [r"Union"],  # Expand form, not a two-scan union
    "scd2_history": [r"\(\d+\) Exchange.*\(\d+\) Exchange"],
    # a pandas call per tile, or a second shuffle (a map-side count
    # ahead of the tile exchange), is the plan the kernel replaced
    "raster_roundtrip": [r"FlatMapGroupsInPandas",
                         r"\(\d+\) Exchange.*\(\d+\) Exchange"],
}


def _distinct_md5_seeds(plan: str) -> int:
    """Distinct md5 INPUT expressions: the sliced-digest MinHash hashes
    ONE seeded digest per shingle (4 substr slices of it); the old form
    had 4 distinct seeds -> 4 digests per shingle. Counting raw md5
    occurrences is wrong — explain() repeats each agg expression in the
    partial and final operators."""
    return len(set(re.findall(r"md5\(cast\(concat\((\d+),", plan)))


def main() -> int:
    import __spark_entry__ as entry_mod
    from inputosm_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(cpus=8, app_name="plan_audit")
    qs = entry_mod.queries()

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python scripts/audit_plans.py` at `{sf_dir}`.",
        "Each section is the Catalyst/AQE `explain(formatted)` output with",
        "the scale-critical properties asserted (exit 1 on regression):",
        "filter/column pushdown into the parquet scan, broadcast joins for",
        "dimension sides, partial+final hash aggregation, top-k as",
        "TakeOrderedAndProject, whole-stage codegen on the hot path.",
        "",
    ]
    failures = []
    for name, patterns in CHECKS.items():
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        missing = [p for p in patterns if not re.search(p, plan, re.DOTALL)]
        banned = [p for p in ANTI_CHECKS.get(name, [])
                  if re.search(p, plan, re.DOTALL)]
        if name == "minhash_signatures" and _distinct_md5_seeds(plan) > 1:
            banned.append(
                f"{_distinct_md5_seeds(plan)} distinct md5 seeds "
                "(want 1: sliced digest)"
            )
        status = "OK" if not (missing or banned) else (
            f"MISSING {missing} BANNED {banned}"
        )
        if missing or banned:
            failures.append((name, missing + banned))
        print(f"{name:24s} {status}")
        out += [f"## {name} — {status}", "", "```", plan.strip(), "```", ""]

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    if failures:
        print("PLAN REGRESSIONS:", failures)
        return 1
    print("all plan properties hold; PLANS.md written")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
