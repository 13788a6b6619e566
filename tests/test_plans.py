"""Plan-shape regression gate: the physical plans the 100 TB story depends
on, asserted as tests so a regression fails CI instead of surfacing as bench
drift. Each check pins the property the operator's scale design claims —
partition pruning reaching the scan, filters/columns pushed down, small
sides broadcast, top-k as TakeOrdered (no full sort), hot paths free of
row-at-a-time Python, and no cartesian products anywhere unintended.
"""

from __future__ import annotations

import pytest

from delta_lake_proxy_spark import queries

SF = "/root/testdata/sf0.001"


def plan_of(name: str, spark) -> str:
    df = queries.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_governed_read_prunes_partitions_in_codegen(spark):
    p = plan_of("governed_read", spark)
    assert "PartitionFilters" in p
    assert "l_returnflag" in p.split("PartitionFilters")[1][:250]  # DNF reached the scan
    assert "BatchEvalPython" not in p  # no row-at-a-time Python anywhere
    assert p.count("HashAggregate") >= 2  # partial + final (map-side combine)


def test_filter_project_pushdown_and_pruning(spark):
    p = plan_of("filter_project", spark)
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [")[1].split("]")[0]
    assert pushed.strip()  # at least one predicate reached the parquet scan
    schema = p.split("ReadSchema: ")[1].split("\n")[0]
    assert schema.count(":") <= 8  # projection pruned the 16-col table


def test_topk_runs_as_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of("top_k", spark)
    assert "TakeOrderedAndProject" in plan_of("similarity_topk", spark)


def test_join_inner_broadcasts_dims(spark):
    p = plan_of("join_inner", spark)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_cross_join_is_broadcast_sized_only(spark):
    # region x region: broadcast nested loop, never a shuffled cartesian
    # (join_cross_q left the driver registry in round 7 — dv_read took its
    # slot; J8 stays driver-certified via file_surface's catalog crossJoin,
    # broadcast-hinted since the round-16 catalog_surface fold-in)
    df = queries.join_cross_q(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert df.count() == 25  # 5 regions x 5 regions


def test_dedup_and_lsh_have_no_cartesian_and_no_python(spark):
    for name in ("dedup_near_minhash", "similarity_lsh", "dedup_exact"):
        p = plan_of(name, spark)
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name  # signatures/verify all JVM


def test_text_stats_is_pure_codegen_single_pass(spark):
    p = plan_of("text_stats", spark)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # exactly ONE exchange: the deliberate repartition spreading a
    # single-file doc table across executors — stats + fingerprint
    # themselves are one shuffle-free projection (no self-join, no agg)
    assert p.count("Exchange") == 1 and "REPARTITION" in p
    assert "SortMergeJoin" not in p and "HashAggregate" not in p


def test_pipeline_clean_corpus_single_pass_plan(spark):
    """pipeline_clean_corpus (r17 fix, pinned r18 per verdict #2): the dedup
    window + fused text-stats run as ONE plan — the two union-leg fixture
    scans only, one dedup exchange, no join-back, and every text regex
    evaluated at most once per row (the r16 defect re-ran them up to 49x)."""
    import re

    p = plan_of("pipeline_clean_corpus", spark)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("FileScan") <= 2  # docs leg + dup-variant leg, nothing else
    assert len(re.findall("regexp_extract_all", p)) <= 9
    assert "SortMergeJoin" not in p  # stats ride the projection, no self-join
    assert p.count("Exchange") == 1  # the dedup window shuffle only


def test_text_stats_regexes_evaluated_once(spark):
    """text_stats (r17 single-evaluation fix, pinned r18): one
    regexp_extract_all per distinct pattern — 10 total — over ONE scan."""
    import re

    p = plan_of("text_stats", spark)
    assert len(re.findall("regexp_extract_all", p)) <= 10
    assert p.count("FileScan") == 1


def test_agg_group_partial_final(spark):
    p = plan_of("agg_group", spark)
    assert p.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in p


def test_file_surface_pages_are_local_relations(spark):
    # the three listing pages come from the driver-side snapshot: local
    # relations with no log scan, window or sort to build them
    p = plan_of("file_surface", spark)
    legs = [ln for ln in p.splitlines() if ln.startswith("   :- ")]
    assert len(legs) == 3 and all("LocalTableScan" in ln for ln in legs), p
    for op in ("Sort", "Window", "TakeOrderedAndProject", "_delta_log"):
        assert op not in p, op
    assert "CartesianProduct" not in p


def test_multimodal_decode_is_arrow_not_row_python(spark):
    # the one legitimately-Python stage must be Arrow-batched mapInPandas,
    # never row-at-a-time BatchEvalPython
    p = plan_of("multimodal_decode", spark)
    assert "MapInPandas" in p or "mapInPandas" in p
    assert "BatchEvalPython" not in p


def test_dv_read_is_broadcast_anti_join_no_row_python(spark):
    """Deletion-vector filtering: the scan anti-joins a BROADCAST position
    set (no shuffle of the data scan); the only Python is the Arrow
    mapInPandas decoding the metadata-sized descriptor set."""
    p = plan_of("dv_read", spark)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_sequence_pack_is_one_window_no_python(spark):
    """Contiguous packing: exactly one exchange (the per-group window sort),
    one Window, zero Python — the whole pack assignment stays in codegen."""
    p = plan_of("sequence_pack", spark)
    assert p.count("Window") == 1
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert p.count("Exchange") <= 2  # window shuffle + final rollup agg


def test_pii_scrub_is_pure_codegen(spark):
    p = plan_of("pii_scrub", spark)
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "Join" not in p  # lang rides the projection, no self-join


def test_hamming_incremental_join_shape(spark):
    """Incremental Hamming dedup (r13): a plain two-sided equi-join on
    (band, bucket) — shuffle or broadcast hash join, NEVER a cartesian —
    with the popcount verify in codegen (no Python anywhere: signatures
    come in precomputed, the index is signature-only)."""
    from delta_lake_proxy_spark.functions import dedup

    sigs = spark.createDataFrame(
        [(i, (i * 2654435761) % (1 << 60)) for i in range(64)],
        "doc_id long, sig long",
    )
    index = dedup.hamming_signature_index(sigs, max_hamming=8)
    new = spark.createDataFrame(
        [(1000 + i, (i * 40503) % (1 << 60)) for i in range(16)],
        "doc_id long, sig long",
    )
    df = dedup.hamming_near_duplicates_incremental(new, index, max_hamming=8)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "Join" in p  # the band-bucket equi-join is the only join


def test_line_dedup_incremental_single_generate_no_python(spark):
    """Incremental line dedup (r13): the BATCH is exploded exactly once
    (the persisted fork feeds both the per-hash aggregate and the
    rebuild probe); the corpus contributes only its 24 B/line index —
    no second Generate, no Python, no cartesian."""
    from delta_lake_proxy_spark.functions import dedup

    docs = spark.createDataFrame(
        [(i, "first line of text here\nsecond line of text here") for i in range(8)],
        "doc_id long, text string",
    )
    index = dedup.line_hash_index(docs, min_line_chars=5)
    batch = spark.createDataFrame(
        [(100, "first line of text here\nbrand new line of text")],
        "doc_id long, text string",
    )
    df = dedup.dedupe_repeated_lines_incremental(batch, index, min_line_chars=5)
    p = df._jdf.queryExecution().executedPlan().toString()
    # the batch side reads from the persisted (InMemory) relation — its
    # explode ran once at materialization; the only Generate allowed in
    # THIS plan is the index build's own explode... the index is
    # aggregation-shaped (no explode at all), so: zero Generates here
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p  # batch explode materialized once


def test_embedding_incremental_is_codegen_equi_join(spark):
    """Embedding incremental dedup (r13): deterministic-hyperplane bucket
    + quantized verify — one equi-join on bucket, cosine in codegen
    higher-order functions, zero Python, no cartesian."""
    from delta_lake_proxy_spark.functions import dedup

    emb = spark.createDataFrame(
        [(i, [float(i % 7) - 3, float(i % 5) - 2, 1.0, -0.5]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    index = dedup.embedding_lsh_index(emb, dim=4, num_planes=6)
    new = spark.createDataFrame(
        [(100, [0.5, -1.0, 1.0, -0.5])], "vec_id long, embedding array<double>"
    )
    df = dedup.embedding_near_duplicates_incremental(
        new, index, threshold=0.9, dim=4, num_planes=6
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "Join" in p


def test_bm25_probe_row_pushes_terms_no_python(spark):
    """The registered bm25_probe driver row (r16): the query-term IN
    filter reaches the posting scan (footer-range pruning at scale) and
    the whole path is JVM expressions — no Python stage."""
    p = plan_of("bm25_probe", spark)
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [")[1].split("]")[0]
    assert "term" in pushed
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hybrid_search_row_pruned_and_python_free(spark):
    """The registered hybrid_search driver row (r16): both index scans
    carry pushed filters (terms on the posting side, lang ACL on both),
    no cartesian product, no Python stage — RRF is pure expressions."""
    p = plan_of("hybrid_search", spark)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "PushedFilters: [" in p
    assert "term" in p.split("PushedFilters: [")[1].split("]")[0]


def test_sketch_rollup_row_single_merge_no_python(spark):
    """The registered sketch_rollup_estimate driver row (r16): the
    estimate merges sketch partials (hll_union_agg partial+final), the
    ACL rides as a row filter, and nothing drops to Python."""
    p = plan_of("sketch_rollup_estimate", spark)
    assert "hll_union_agg" in p or "hll_sketch_estimate" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hist_rollup_row_merge_no_python(spark):
    """The registered hist_rollup_quantiles driver row (r16): quantiles
    come from expression-only aggregation over the rollup's counts
    arrays (positive AND negative partials merged element-wise) — one
    merge aggregate, no Python stage, no corpus scan shapes."""
    p = plan_of("hist_rollup_quantiles", spark)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "HashAggregate" in p
