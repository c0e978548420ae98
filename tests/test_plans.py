"""Physical-plan regression tests: pin the optimizer properties the
100 TB posture depends on (SURVEY.md §4).

A query can stay *correct* while silently de-optimizing (a cast blocking
pushdown, a missing broadcast turning into a sort-merge shuffle, a UDF
sneaking into a relational path).  These tests fail on the plan, before
the slowdown ships.
"""

from __future__ import annotations

import pytest

from open_source_etl_spark.plans import plan_audit
from open_source_etl_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def audit(spark, sf_dir):
    def _audit(name):
        return plan_audit(name, QUERIES[name](spark, sf_dir))

    return _audit


def test_q1_scan_is_pruned_and_pushed(audit):
    facts = audit("q1_pricing_summary")
    # the shipdate predicate must reach the parquet reader
    assert any("l_shipdate" in f for f in facts.pushed), facts.pushed
    # column pruning: 16-column lineitem, 7 read
    assert "l_comment" not in facts.read_columns
    assert "l_orderkey" not in facts.read_columns
    assert len(facts.read_columns) <= 8
    # pure JVM path: partial/final agg, no Python stage
    assert facts.python_stages == 0
    # algorithmic shuffles: agg exchange + sort exchange, plus at most
    # one round-robin from load_table_compute widening the single-split
    # fixture scan (conditional — absent on a many-split table at scale)
    assert facts.exchanges <= 3


def test_star_join_broadcasts_all_dimensions(audit):
    facts = audit("join_broadcast_star")
    assert facts.broadcast_joins >= 3
    # dims broadcast => the only shuffles left are agg + sort
    assert facts.exchanges <= 2
    assert facts.python_stages == 0


def test_multiway_star_join_avoids_fact_shuffle_joins(audit):
    facts = audit("join_multiway_star")
    # customer/nation/region must broadcast (bounded dims)
    assert facts.broadcast_joins >= 2


def test_point_lookup_pushes_equality(audit):
    facts = audit("filter_point_lookup")
    assert any("EqualTo" in f or "=" in f for f in facts.pushed), facts.pushed
    assert facts.exchanges == 0


def test_relational_paths_have_no_python_stages(audit):
    """Every built-in relational family must stay JVM-side."""
    for name in (
        "agg_grouped_basic",
        "window_rank_family",
        "setop_union_all",
        "sort_multikey_nulls",
        "json_extract_props",
        "text_token_stats",
    ):
        assert audit(name).python_stages == 0, name


def test_python_stages_only_where_designed(audit):
    """The UDF/multimodal surface is the *designed* Python boundary."""
    assert audit("udf_pandas_scalar").python_stages == 1
    assert audit("multimodal_image_meta").python_stages >= 1


@pytest.mark.parametrize("name", [
    "multimodal_h264_fracpel_decode",
    "multimodal_h264_submb_decode",
    "multimodal_h264_chroma_decode",
    "multimodal_h264_bpixel_decode",
    "multimodal_h264_wpixel_decode",
    "multimodal_h264_dpixel_decode",
    "multimodal_mp3_requant_escape",
    "multimodal_jpeg_color_restart_decode",
    "multimodal_mp4_frag_flags_walk",
])
def test_round14_media_queries_keep_the_arrow_tier_shape(audit, name):
    """Every round-14 media/container query keeps the established
    scale shape: ONE fused Python stage (``media_frame`` hosts
    ``make_X_bytes`` and the decoder's row function inside a single
    mapInPandas, so payload bytes never cross the JVM boundary),
    exactly one shuffle (``media_query`` range-partitions the doc_id
    scan below the kernel; the output is only sorted within
    partitions), one scan column (doc_id), and no broadcast joins —
    per-row kernels with no cross-row state cannot regress into
    shuffling pipelines (or back into the two-stage payload
    round-trip) without tripping this pin."""
    facts = audit(name)
    assert facts.python_stages == 1, (name, facts.python_stages)
    assert facts.exchanges == 1, (name, facts.exchanges)
    assert facts.broadcast_joins == 0, name
    assert len(facts.read_columns) <= 1, (name, facts.read_columns)


def test_python_under_range_exchange_counts_the_double_run_shape(spark):
    """The fact counts a kernel whose nearest exchange range-partitions
    (orderBy over its output), and not one whose input is partitioned."""
    from open_source_etl_spark.plans import python_under_range_exchange

    ids = spark.range(64)

    def kernel(batches):
        yield from batches

    over = ids.mapInPandas(kernel, "id long").orderBy("id")
    under = ids.repartitionByRange(4, "id").mapInPandas(kernel, "id long")
    hashed = ids.mapInPandas(kernel, "id long").groupBy("id").count().orderBy("id")
    assert python_under_range_exchange(over) == 1
    assert python_under_range_exchange(under.sortWithinPartitions("id")) == 0
    assert python_under_range_exchange(hashed) == 0


# every query on the codec host: each multimodal_* query but phash_dedup,
# whose order comes out of a join, and the 12 ingest container scans
HOSTED_KERNELS = sorted(
    [
        n for n in QUERIES
        if n.startswith("multimodal_") and n != "multimodal_phash_dedup"
    ]
    + [
        "datapipe_warc_extract", "datapipe_zip_extract",
        "datapipe_tar_extract", "datapipe_tfrecord_scan",
        "datapipe_avro_scan", "datapipe_avro_evolution_scan",
        "datapipe_gzip_jsonl_scan", "datapipe_lz4_scan",
        "datapipe_zstd_scan", "datapipe_zstd_dict_scan",
        "datapipe_pdf_text_extract", "datapipe_subtitle_extract",
    ]
)


@pytest.mark.parametrize("name", HOSTED_KERNELS)
def test_media_kernels_run_once(audit, name):
    """No codec kernel (media or ingest container) sits under a
    range-partitioning exchange: Spark's RangePartitioner samples by
    running the exchange's child, so a kernel there runs twice
    (``doc_range_query`` partitions the input docs instead)."""
    facts = audit(name)
    assert facts.python_stages == 1, (name, facts.python_stages)
    assert facts.python_under_range_exchange == 0, (name, facts.plan)


def test_partitioned_landing_prunes_at_plan_time(spark, tmp_path):
    """The date-partitioned landing layout must yield PLAN-TIME partition
    pruning: a month/day predicate lands entirely in the scan's
    PartitionFilters (directory listing skips other partitions — the
    mechanism that makes the year/month/day layout pay at 100 TB), not in
    post-scan DataFilters."""
    import datetime as dt

    from open_source_etl_spark.ingest.staging import stage_csv

    src = tmp_path / "csv"
    src.mkdir()
    (src / "a.csv").write_text(
        "data_id,round,date\n0,R1,2021-03-06\n1,R1,2021-03-07\n2,R2,2021-04-10\n"
    )
    landing = str(tmp_path / "landing")
    stage_csv(spark, str(src / "*.csv"), landing, date_column="date", run_date=None)

    q = spark.read.parquet(landing).where("month = 'april' AND day = 10")
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines, plan
    scan = scan_lines[0]
    assert "month" in scan.split("PartitionFilters:")[1].split("PushedFilters:")[0]
    assert "day" in scan.split("PartitionFilters:")[1].split("PushedFilters:")[0]
    # nothing of the partition predicate survives as a row-level filter
    assert "DataFilters: []" in scan
    assert q.count() == 1


def test_ohlc_is_single_aggregation_no_window(audit):
    """OHLC downsampling must stay ONE grouped aggregation (min_by/max_by
    struct ordering) — a window-based rewrite would double the shuffle
    and sort the whole stream."""
    facts = audit("timeseries_downsample_ohlc")
    assert facts.python_stages == 0
    # agg exchange + presentation sort (+ optional scan widening)
    assert facts.exchanges <= 3


def test_mode_has_no_window(audit):
    """Deterministic mode = two hash aggregations; the naive row_number
    rewrite would add a per-group sort."""
    facts = audit("agg_mode_deterministic")
    assert facts.python_stages == 0
    assert facts.exchanges <= 4


def test_pca_gram_is_single_python_pass(spark, sf_dir):
    """The Gram build is ONE mapInPandas pass whose reduce ships d^2
    doubles — audit the build plan itself (the query's returned frame is
    the already-reduced 8-row result, so auditing it would prove
    nothing)."""
    from pyspark.sql import functions as F

    from open_source_etl_spark.catalog import load_table_compute

    emb = load_table_compute(spark, sf_dir, "embeddings").select("embedding")

    def gram_partial(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"g": [[0.0]], "n": [len(pdf)]})

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("g", ArrayType(DoubleType())), StructField("n", LongType())]
    )
    reduced = (
        emb.mapInPandas(gram_partial, schema)
        .select(F.col("n"), F.posexplode("g").alias("idx", "val"))
        .groupBy("idx")
        .agg(F.sum("val").alias("s"))
    )
    facts = plan_audit("pca_gram_build", reduced)
    assert facts.python_stages == 1
    # partial-reduce exchange (+ optional scan widening)
    assert facts.exchanges <= 2


def test_dpp_query_plans_dynamic_pruning(spark, sf_dir, tmp_path):
    """layout_partition_prune_dpp must actually inject the runtime
    pruning subquery into the fact scan — the whole point of the query.
    (A LIMIT-based dim silently degrades to a full scan; only a real
    selective predicate on the dim side qualifies for DPP.)"""
    from open_source_etl_spark.operators.source_queries import dpp_frame

    df = dpp_frame(spark, sf_dir, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_bucketed_query_joins_without_exchange(spark, sf_dir):
    """join_bucketed_colocated's join must be satisfied by the bucketed
    layout: no Exchange below the join (the aggregation above it still
    exchanges its grouped partials — that one is expected)."""
    from open_source_etl_spark.plans import exchange_count
    from open_source_etl_spark.sources import bucketed_join, write_bucketed
    from open_source_etl_spark.catalog import load_table
    from pyspark.sql import functions as F

    import uuid

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    # uuid-tagged names, same reason as the query function: a killed run
    # leaves the managed-table directory behind, and a FIXED name would
    # wedge every later run on LOCATION_ALREADY_EXISTS
    tag = uuid.uuid4().hex[:8]
    t_li, t_ord = f"t_plan_li_b_{tag}", f"t_plan_ord_b_{tag}"
    write_bucketed(li, t_li, "l_orderkey", n_buckets=8)
    write_bucketed(orders, t_ord, "l_orderkey", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, t_li, t_ord, "l_orderkey")
        assert exchange_count(joined) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {t_li}")
        spark.sql(f"DROP TABLE IF EXISTS {t_ord}")


def test_running_distinct_keeps_no_sets_in_window_state(spark, sf_dir):
    """The exact running-distinct rewrite must never materialize user
    sets inside a window frame: cumulative distinct = running SUM of
    first-occurrence counts, so the plan carries only scalar counts
    (VERDICT.md round 2, "What's wrong" #1)."""
    from open_source_etl_spark.plans.inspect import formatted_plan

    plan = formatted_plan(QUERIES["window_running_distinct"](spark, sf_dir))
    assert "collect_set" not in plan
    assert "collect_list" not in plan
    assert "array_distinct" not in plan


def test_blocklist_matches_via_hash_join_not_like_scan(audit):
    """text_domain_blocklist's suffix-chain match must be a BROADCAST
    HASH join on the exploded suffix (independent of blocklist size) —
    not a nested-loop LIKE scan, and no Python stage anywhere."""
    facts = audit("text_domain_blocklist")
    assert facts.broadcast_joins >= 1, facts.plan[:800]
    assert "BroadcastNestedLoopJoin" not in facts.plan
    assert facts.python_stages == 0


def test_topk_multiquery_corpus_never_shuffles_prejoin(audit):
    """ann_topk_multiquery: the query batch broadcasts; the corpus scan
    reaches the join without a shuffle (the only exchanges are the
    top-k window on query_id and presentation)."""
    facts = audit("ann_topk_multiquery")
    # a broadcast cross join lowers to BroadcastNestedLoopJoin — that IS
    # the intended plan (every corpus row scores every query); what must
    # never appear is a non-broadcast cartesian or a corpus-side shuffle
    # join
    assert "BroadcastExchange" in facts.plan, facts.plan[:800]
    assert "CartesianProduct" not in facts.plan
    assert "SortMergeJoin" not in facts.plan
    assert facts.python_stages == 0


def test_incremental_dedup_shuffles_digests_not_text(audit):
    """dedup_incremental_against_corpus: the anti join must be a HASH
    join keyed on the digest (uniform keys), and the corpus side must
    not carry the text column through its exchange — only doc_id/source
    on the batch side and the 32-byte hash on both."""
    facts = audit("dedup_incremental_against_corpus")
    assert "BroadcastNestedLoopJoin" not in facts.plan
    assert facts.python_stages == 0
    # the join's build side projects the digest only: no `text` column
    # may appear in any exchange's output schema
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", facts.plan):
        assert "text" not in m.group(1), m.group(0)


def test_bpe_merge_aggregation_is_partial_then_final(audit):
    """datapipe_bpe_merge_step: the pair count must run as partial
    (map-side) then final HashAggregate — the shuffle carries (pair,
    count) rows, bounded by alphabet², not the exploded pair stream."""
    facts = audit("datapipe_bpe_merge_step")
    assert facts.plan.count("HashAggregate") >= 2, facts.plan[:800]
    assert facts.python_stages == 0


def test_strategy_hint_forces_shuffled_hash_join(audit):
    """join_strategy_hints must lower to ShuffledHashJoin (the hint's
    whole point); a silent fallback to SortMergeJoin fails here."""
    facts = audit("join_strategy_hints")
    assert "ShuffledHashJoin" in facts.plan, facts.plan[:800]
    assert "SortMergeJoin" not in facts.plan
