"""Mimics the driver's correctness gate: run every queries()[k] on Spark at
sf0.01 AND the matching oracle_sql()[k] on DuckDB, compare row counts and
order-insensitive values with matching column names."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        return round(v, 9) if not math.isnan(v) else "nan"
    return v


def _rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    assert sql is not None, f"no oracle for {name}"
    sdf = q(spark, SF_DIR)
    # driver-hash stability: the driver's value hasher normalizes Python
    # Decimal differently per engine (the r4 red rows) — no contract
    # output may carry a DecimalType column
    from pyspark.sql.types import DecimalType

    dec_cols = [
        f.name for f in sdf.schema.fields
        if isinstance(f.dataType, DecimalType)
    ]
    assert not dec_cols, f"{name}: Decimal output column(s) {dec_cols}"
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    a = _rows_to_multiset(spark_cols, spark_rows)
    b = _rows_to_multiset(duck_cols, duck_rows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        pytest.fail(f"{name}: value mismatch, first diffs {diff}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["mismatches"] == 0 for r in rows)
    assert all(r["enc_bytes"] <= r["naive_rle_bytes"] for r in rows)


def test_hour_bucket_floor_semantics_pre_epoch(spark):
    """The rollup's hour bucket must FLOOR (DuckDB `//` semantics), not
    truncate toward zero, for pre-1970 timestamps."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("1969-12-31 23:30:00",), ("1970-01-01 00:30:00",),
         ("1969-12-31 23:59:59.999999",), ("1968-01-01 00:00:00",)],
        "ts string",
    )
    out = [
        r.hb
        for r in df.select(
            F.expr(entrymod._HOUR_BUCKET_SQL).alias("hb")
        ).collect()
    ]
    import math

    expect = [
        math.floor(us / 3_600_000_000)
        for us in (-1_800_000_000, 1_800_000_000, -1, -63_158_400_000_000)
    ]
    assert out == expect


# The driver oracle-checks only the FIRST 50 entries of queries(), so its
# order is part of the contract: a reorder silently drops surfaces from
# the checked window.  Slot 47 (1-based) is compacted_group_agg.
QUERY_ORDER = [
    "count_pushdown", "minmax_pushdown", "table_encode_temporal",
    "ts_range_scan", "float_pred_scan", "ts_group_rollup",
    "dec_sum_pushdown", "dec_group_rollup", "str_minmax_pushdown",
    "idx_point_lookup", "where_group_agg", "ctas_roundtrip",
    "where_topk", "where_distinct", "int_in_scan", "null_pred_scan",
    "neg_pred_agg", "or_pushdown", "ndv_pushdown", "multi_group_agg",
    "enc_join", "multi_agg", "table_stats", "topk_pushdown",
    "doc_length_stats", "token_heavy_hitters", "event_window_rollup",
    "event_sessionize", "neardup_clusters", "stratified_sample",
    "bigram_heavy_hitters", "event_asof_join", "sequence_pack",
    "codec_mix", "fact_join", "or_of_and", "dict_contains_scan",
    "str_topk", "table_encode_files", "table_encode_nullable",
    "where_aggregate", "count_runs", "roundtrip_verify",
    "codec_selection", "chunked_encode", "string_codec_verify",
    "compacted_group_agg", "dedup_exact", "minhash_bands",
    "zonemap_scan", "run_decompose", "maxrun_byte", "maxrun_normalize",
    "compression_summary", "run_length_histogram",
    "string_codec_shared", "ann_topk", "ann_lsh_buckets",
    "text_quality", "doc_fingerprint", "simhash",
    "simhash_neardup_pairs", "simhash_bucket_stats", "ngram_jaccard",
    "lang_id", "embedding_neardup", "embedding_neardup_bucketed",
    "ann_ivf_cells", "ann_ivf_cells_trained", "ann_ivf_topk",
    "multimodal_features", "frame_sample", "stream_chunked_runs",
    "minhash_neardup_pairs", "zonemap_scan_project",
    "pushdown_aggregate", "group_agg_pushdown", "dict_filter_scan",
    "dict_distinct", "int_distinct", "dict_in_scan", "dict_range_scan",
    "dict_prefix_scan", "where_pushdown", "dpp_semijoin",
    "clustered_scan",
]


def test_contract_shape_is_frozen():
    """queries() keeps its frozen names and order, and oracle_sql() has
    exactly the same keys (no Spark needed)."""
    assert list(entrymod.queries()) == QUERY_ORDER
    assert QUERY_ORDER[46] == "compacted_group_agg"
    assert set(entrymod.oracle_sql()) == set(QUERY_ORDER)
    assert len(entrymod.oracle_sql()) == len(QUERY_ORDER)
