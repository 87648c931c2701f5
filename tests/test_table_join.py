"""General encoded x encoded join: plan decisions from format metadata,
DPP runtime filter pushed into the fact scan, DuckDB-checked results."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rlv import table_files as TF


@pytest.fixture(scope="module")
def joined(spark, tmp_path_factory):
    """fact: orders with a NULLABLE custkey + cents; dim: one row per
    distinct custkey <= 400 with an attribute column."""
    base = tmp_path_factory.mktemp("join")
    duck = duckdb.connect()
    fact = duck.sql(
        "SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
        "  AS cust, "
        "CAST(o_totalprice * 100 AS BIGINT) AS cents "
        "FROM read_parquet('/root/testdata/sf0.01/orders.parquet') "
        "ORDER BY o_orderkey"
    ).arrow()
    dim = duck.sql(
        "SELECT DISTINCT o_custkey AS cust, "
        "CAST(o_custkey % 13 AS BIGINT) AS segment "
        "FROM read_parquet('/root/testdata/sf0.01/orders.parquet') "
        "WHERE o_custkey <= 400 ORDER BY cust"
    ).arrow()
    fact_src = str(base / "fact.parquet")
    dim_src = str(base / "dim.parquet")
    pq.write_table(fact, fact_src, row_group_size=2048)
    pq.write_table(dim, dim_src, row_group_size=2048)
    fact_enc = str(base / "fact_enc")
    dim_enc = str(base / "dim_enc")
    # cluster the fact on the join key: the realistic warehouse layout,
    # and what makes the pushed runtime filter actually PRUNE blocks
    # (scattered keys would survive every zone map)
    TF.cluster_encode_table_files(
        spark, [fact_src], fact_enc, cluster_by="cust",
        int_cols=["o_orderkey", "cust", "cents"],
        rows_per_block=2048, num_tasks=2,
    )
    TF.encode_table_files(
        spark, [dim_src], dim_enc, order_col="cust",
        int_cols=["cust", "segment"], rows_per_block=512, num_tasks=1,
    )
    return {"fact_enc": fact_enc, "dim_enc": dim_enc,
            "fact_src": fact_src, "dim_src": dim_src, "duck": duck}


def _oracle(j, extra_where=""):
    return j["duck"].sql(
        f"WITH f AS (SELECT * FROM read_parquet('{j['fact_src']}')),"
        "d AS (SELECT DISTINCT o_custkey AS cust, "
        " CAST(o_custkey % 13 AS BIGINT) AS segment "
        " FROM read_parquet("
        f"'/root/testdata/sf0.01/orders.parquet') WHERE o_custkey <= 400)"
        "SELECT f.cust, f.o_orderkey, f.cents, d.segment "
        "FROM f JOIN d ON f.cust = d.cust " + extra_where +
        " ORDER BY 1, 2"
    ).fetchall()


def test_join_matches_sql_and_pushes_runtime_filter(spark, joined,
                                                    monkeypatch):
    reads = []
    real_tasks = TF._query_tasks

    def spy_tasks(enc_dir):
        reads.append(enc_dir)
        return real_tasks(enc_dir)

    monkeypatch.setattr(TF, "_query_tasks", spy_tasks)
    df, plan = TF.join_table_files(
        spark, joined["fact_enc"], joined["dim_enc"], on="cust",
        columns_a=["o_orderkey", "cents"], columns_b=["segment"],
        return_plan=True,
    )
    # each side's task table is read once and shared by its bill, the
    # runtime filter and its scan
    assert sorted(reads) == sorted([joined["fact_enc"], joined["dim_enc"]])
    got = sorted(
        (r["cust"], r["o_orderkey"], r["cents"], r["segment"])
        for r in df.collect()
    )
    want = [tuple(r) for r in _oracle(joined)]
    assert got == want and len(want) > 100
    # the dim side is tiny: it must broadcast AND push its keys into
    # the fact scan
    assert plan["broadcast"] is True
    assert plan["runtime_filter_keys"] is not None
    assert 0 < plan["runtime_filter_keys"] <= 401  # custkeys 0..400
    # both sides are far under the driver-local cell cap
    assert plan["driver_local_a"] is True
    assert plan["driver_local_b"] is True
    assert plan["driver_join"] is True
    # the runtime filter must SHRINK the fact side's decode bill
    [unfiltered] = TF.explain_scan_table_files(
        spark, joined["fact_enc"],
        [("notnull", "o_orderkey")],
        columns=["cust", "o_orderkey", "cents"],
    ).collect()
    keys = [r["cust"] for r in TF.distinct_table_files(
        spark, joined["dim_enc"], "cust").collect() if r["cust"] is not None]
    [filtered] = TF.explain_scan_table_files(
        spark, joined["fact_enc"],
        [("notnull", "o_orderkey"), ("int_in", "cust", keys)],
        columns=["cust", "o_orderkey", "cents"],
    ).collect()
    assert filtered["payload_bytes"] < unfiltered["payload_bytes"]
    assert filtered["rows_surviving"] < unfiltered["rows_surviving"]


def test_join_without_runtime_filter_is_identical(spark, joined):
    """Cap below the dim NDV: the filter is skipped (not an error) and
    the join result is unchanged."""
    df, plan = TF.join_table_files(
        spark, joined["fact_enc"], joined["dim_enc"], on="cust",
        columns_a=["o_orderkey", "cents"], columns_b=["segment"],
        runtime_filter_max_keys=3, return_plan=True,
    )
    assert plan["runtime_filter_keys"] is None
    got = sorted(
        (r["cust"], r["o_orderkey"], r["cents"], r["segment"])
        for r in df.collect()
    )
    assert got == [tuple(r) for r in _oracle(joined)]


def test_join_on_spark_workers_is_identical(spark, joined, monkeypatch):
    """With the driver-local cap at 0 both side scans run as Spark
    mapInArrow jobs, the plan says so, and the result is unchanged."""
    monkeypatch.setattr(TF, "_DRIVER_LOCAL_MAX_CELLS", 0)
    df, plan = TF.join_table_files(
        spark, joined["fact_enc"], joined["dim_enc"], on="cust",
        columns_a=["o_orderkey", "cents"], columns_b=["segment"],
        return_plan=True,
    )
    assert plan["driver_local_a"] is False
    assert plan["driver_local_b"] is False
    assert plan["driver_join"] is False
    got = sorted(
        (r["cust"], r["o_orderkey"], r["cents"], r["segment"])
        for r in df.collect()
    )
    assert got == [tuple(r) for r in _oracle(joined)]


def test_join_with_predicates_both_sides(spark, joined):
    df = TF.join_table_files(
        spark, joined["fact_enc"], joined["dim_enc"], on="cust",
        preds_a=[("between", "o_orderkey", 1000, 40000)],
        preds_b=[("between", "segment", 2, 9)],
        columns_a=["o_orderkey", "cents"], columns_b=["segment"],
    )
    got = sorted(
        (r["cust"], r["o_orderkey"], r["cents"], r["segment"])
        for r in df.collect()
    )
    want = [tuple(r) for r in _oracle(
        joined,
        "WHERE f.o_orderkey BETWEEN 1000 AND 40000 "
        "AND d.segment BETWEEN 2 AND 9",
    )]
    assert got == want and len(want) > 10


def test_left_join_preserves_unmatched_and_filters_one_way(spark, joined):
    """how='left': side A's rows survive unmatched (NULL-filled B
    columns, incl. the NULL-key fact rows), the runtime filter may only
    flow A -> B, and only B may broadcast."""
    df, plan = TF.join_table_files(
        spark, joined["fact_enc"], joined["dim_enc"], on="cust",
        columns_a=["o_orderkey", "cents"], columns_b=["segment"],
        return_plan=True, how="left",
    )
    got = sorted(
        ((-1 if r["cust"] is None else r["cust"]), r["o_orderkey"],
         r["cents"], (-1 if r["segment"] is None else r["segment"]))
        for r in df.collect()
    )
    want = sorted(  # python sort: SQL NULLS-LAST order != the -1 sentinel's
        ((-1 if c is None else c), k, v, (-1 if s is None else s))
        for c, k, v, s in joined["duck"].sql(
            f"WITH f AS (SELECT * FROM read_parquet('{joined['fact_src']}')),"
            "d AS (SELECT DISTINCT o_custkey AS cust, "
            " CAST(o_custkey % 13 AS BIGINT) AS segment "
            " FROM read_parquet("
            "'/root/testdata/sf0.01/orders.parquet') WHERE o_custkey <= 400)"
            "SELECT f.cust, f.o_orderkey, f.cents, d.segment "
            "FROM f LEFT JOIN d ON f.cust = d.cust"
        ).fetchall()
    )
    assert got == want
    # unmatched fact rows (cust NULL or > 400) must be present
    assert sum(1 for r in got if r[3] == -1) > 100
    # the dim (B) side is the broadcastable one; A is bigger, so the
    # A->B-only filter is skipped for this orientation
    assert plan["broadcast"] is True
    assert plan["runtime_filter_keys"] is None

    # inverted orientation: dim LEFT JOIN fact — A is the smaller side,
    # so its keys push into the fact (B) scan
    df2, plan2 = TF.join_table_files(
        spark, joined["dim_enc"], joined["fact_enc"], on="cust",
        columns_a=["segment"], columns_b=["o_orderkey", "cents"],
        return_plan=True, how="left",
    )
    got2 = sorted(
        (r["cust"], r["segment"],
         (-1 if r["o_orderkey"] is None else r["o_orderkey"]),
         (-1 if r["cents"] is None else r["cents"]))
        for r in df2.collect()
    )
    want2 = sorted(
        (c, s, (-1 if k is None else k), (-1 if v is None else v))
        for c, s, k, v in joined["duck"].sql(
            f"WITH f AS (SELECT * FROM read_parquet('{joined['fact_src']}')),"
            "d AS (SELECT DISTINCT o_custkey AS cust, "
            " CAST(o_custkey % 13 AS BIGINT) AS segment "
            " FROM read_parquet("
            "'/root/testdata/sf0.01/orders.parquet') WHERE o_custkey <= 400)"
            "SELECT d.cust, d.segment, f.o_orderkey, f.cents "
            "FROM d LEFT JOIN f ON d.cust = f.cust"
        ).fetchall()
    )
    assert got2 == want2 and len(want2) > 100
    assert plan2["runtime_filter_keys"] is not None

    with pytest.raises(ValueError, match="how must be"):
        TF.join_table_files(
            spark, joined["fact_enc"], joined["dim_enc"], on="cust",
            how="full",
        )


def test_multi_key_join_matches_sql(spark, joined, tmp_path):
    """Composite-key join: `on` as a column list — the runtime filter is
    single-key-only by design (skipped here), the join itself must still
    equal SQL on the key TUPLE."""
    # second side: (cust, segment) pairs with an extra attribute, only
    # even custkeys — so both key columns genuinely participate
    d = str(tmp_path / "mk_src")
    os.makedirs(d)
    duck = joined["duck"]
    pq.write_table(
        duck.sql(
            "SELECT DISTINCT o_custkey AS cust, "
            "CAST(o_custkey % 13 AS BIGINT) AS segment, "
            "CAST(o_custkey % 7 AS BIGINT) AS attr "
            "FROM read_parquet('/root/testdata/sf0.01/orders.parquet') "
            "WHERE o_custkey <= 400 AND o_custkey % 2 = 0 ORDER BY cust"
        ).arrow(),
        f"{d}/p.parquet",
    )
    mk_enc = str(tmp_path / "mk_enc")
    TF.encode_table_files(
        spark, [f"{d}/p.parquet"], mk_enc, order_col="cust",
        int_cols=["cust", "segment", "attr"],
        rows_per_block=256, num_tasks=1,
    )
    df, plan = TF.join_table_files(
        spark, joined["dim_enc"], mk_enc, on=["cust", "segment"],
        columns_b=["attr"], return_plan=True,
    )
    assert plan["runtime_filter_keys"] is None  # multi-key: no filter
    got = sorted(
        (r["cust"], r["segment"], r["attr"]) for r in df.collect()
    )
    want = sorted(
        tuple(r) for r in duck.sql(
            "WITH d AS (SELECT DISTINCT o_custkey AS cust, "
            " CAST(o_custkey % 13 AS BIGINT) AS segment FROM read_parquet("
            "'/root/testdata/sf0.01/orders.parquet') WHERE o_custkey <= 400),"
            "m AS (SELECT DISTINCT o_custkey AS cust, "
            " CAST(o_custkey % 13 AS BIGINT) AS segment, "
            " CAST(o_custkey % 7 AS BIGINT) AS attr FROM read_parquet("
            "'/root/testdata/sf0.01/orders.parquet') "
            " WHERE o_custkey <= 400 AND o_custkey % 2 = 0) "
            "SELECT m.cust, m.segment, m.attr FROM d "
            "JOIN m ON d.cust = m.cust AND d.segment = m.segment"
        ).fetchall()
    )
    assert got == want and len(want) > 50


def test_join_guards(spark, joined, tmp_path):
    with pytest.raises(ValueError, match="not in"):
        TF.join_table_files(
            spark, joined["fact_enc"], joined["dim_enc"], on="nope"
        )
    with pytest.raises(ValueError, match="projected from both"):
        TF.join_table_files(
            spark, joined["fact_enc"], joined["fact_enc"], on="cust",
            columns_a=["cents"], columns_b=["cents"],
        )
    # type-mismatched key refuses: dim re-encoded with cust as float64
    d = str(tmp_path / "femb")
    os.makedirs(d)
    n = 64
    pq.write_table(
        pa.table({
            "k": pa.array(range(n), pa.int64()),
            "cust": pa.array(
                np.arange(n, dtype=np.float64), pa.float64()
            ),
        }),
        f"{d}/p.parquet",
    )
    fenc = str(tmp_path / "fenc")
    TF.encode_table_files(
        spark, [f"{d}/p.parquet"], fenc, order_col="k",
        int_cols=["k", "cust"], rows_per_block=32, num_tasks=1,
    )
    with pytest.raises(ValueError, match="restores to"):
        TF.join_table_files(spark, joined["fact_enc"], fenc, on="cust")


def test_join_broadcast_is_gated_on_restored_bytes(spark, tmp_path):
    """A heavily compressed side — a sequential key plus a constant
    40-byte string, ~15 KB encoded — restores to ~2.9 MB: under a 32 KB
    ``broadcast_bytes`` its encoded bill fits but its
    restored size does not, so it must not broadcast, and the join still
    equals DuckDB.  Under the default cap both fit and it broadcasts."""
    n_a, n_b = 20_000, 60_000
    a_src = str(tmp_path / "a.parquet")
    b_src = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({
        "k": pa.array(range(n_a), pa.int64()),
        "key": pa.array([(i * 7919) % n_b for i in range(n_a)],
                        pa.int64()),
        "v": pa.array([(i * 31) % 997 for i in range(n_a)], pa.int64()),
    }), a_src)
    pq.write_table(pa.table({
        "key": pa.array(range(n_b), pa.int64()),
        "pad": pa.array(["p" * 40] * n_b, pa.string()),
    }), b_src, row_group_size=16384)
    a_enc, b_enc = str(tmp_path / "a_enc"), str(tmp_path / "b_enc")
    TF.encode_table_files(spark, [a_src], a_enc, order_col="k",
                          int_cols=["k", "key", "v"], num_tasks=1)
    TF.encode_table_files(spark, [b_src], b_enc, order_col="key",
                          int_cols=["key"], str_cols=["pad"],
                          rows_per_block=4096, num_tasks=2)
    cap = 32 << 10
    df, plan = TF.join_table_files(
        spark, a_enc, b_enc, on="key", columns_a=["v"],
        columns_b=["pad"], broadcast_bytes=cap, return_plan=True,
    )
    assert plan["payload_bytes_b"] < plan["payload_bytes_a"]
    assert plan["payload_bytes_b"] <= cap
    assert plan["restored_bytes_b"] == n_b * (8 + 40) > 50 * cap
    assert plan["broadcast"] is False
    got = sorted((r["key"], r["v"], r["pad"]) for r in df.collect())
    want = duckdb.sql(
        f"SELECT a.key, a.v, b.pad FROM read_parquet('{a_src}') a "
        f"JOIN read_parquet('{b_src}') b ON a.key = b.key ORDER BY 1, 2"
    ).fetchall()
    assert got == [tuple(r) for r in want] and len(want) == n_a
    _, plan = TF.join_table_files(
        spark, a_enc, b_enc, on="key", columns_a=["v"],
        columns_b=["pad"], return_plan=True,
    )
    assert plan["broadcast"] is True
