"""Files-plane per-column table encode: roundtrip, budget, resume, guards."""

from __future__ import annotations

import glob

import numpy as np
import pytest
from pyspark.sql import functions as F

from rlv import engine_files, table_files

INT_COLS = ["o_orderkey", "o_custkey"]
STR_COLS = ["o_orderstatus", "o_orderpriority"]


@pytest.fixture(scope="module")
def orders_dir(spark, tmp_path_factory):
    """orders split across 4 parquet files (multi-split planning)."""
    d = str(tmp_path_factory.mktemp("orders") / "orders")
    (
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select(*INT_COLS, *STR_COLS)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def _encode(spark, orders_dir, out, **kw):
    files = sorted(glob.glob(f"{orders_dir}/*.parquet"))
    return table_files.encode_table_files(
        spark,
        files,
        out,
        order_col="o_orderkey",
        int_cols=INT_COLS,
        str_cols=STR_COLS,
        rows_per_block=2048,
        num_tasks=4,
        **kw,
    )


def test_table_files_roundtrip_bit_identical(spark, orders_dir, tmp_path):
    out = str(tmp_path / "enc")
    res = _encode(spark, orders_dir, out)
    assert res["splits_encoded"] >= 2
    src = spark.read.parquet(orders_dir)
    n = src.count()
    assert res["splits_encoded"] > 0
    # budget: chosen bytes <= naive-RLE budget, summed over the manifest
    pdf = engine_files._read_manifest_pdf(out)
    assert (pdf["bytes_out"] <= pdf["naive_rle_bytes"]).all()
    restored = str(tmp_path / "restored")
    dec = table_files.decode_table_files(spark, out, restored)
    assert dec["rows"] == n
    res_df = spark.read.parquet(restored)
    # every column reconstructs bit-identically (join on the unique order key)
    joined = (
        src.alias("s")
        .join(res_df.alias("r"), F.col("s.o_orderkey") == F.col("r.o_orderkey"))
    )
    bad = joined.filter(
        (F.col("s.o_custkey") != F.col("r.o_custkey"))
        | (F.col("s.o_orderstatus") != F.col("r.o_orderstatus"))
        | (F.col("s.o_orderpriority") != F.col("r.o_orderpriority"))
    ).count()
    assert bad == 0
    assert res_df.count() == n


def test_table_files_resume_and_schema_guard(spark, orders_dir, tmp_path):
    out = str(tmp_path / "enc")
    first = _encode(spark, orders_dir, out)
    assert first["splits_encoded"] > 0
    second = _encode(spark, orders_dir, out)
    assert second["splits_encoded"] == 0
    assert second["splits_skipped"] == first["splits_encoded"]
    # changing the recorded schema on resume must fail loudly
    files = sorted(glob.glob(f"{orders_dir}/*.parquet"))
    with pytest.raises(ValueError, match="different table schema"):
        table_files.encode_table_files(
            spark, files, out,
            order_col="o_orderkey", int_cols=INT_COLS, str_cols=[],
            rows_per_block=2048, num_tasks=4,
        )


def test_table_files_matches_jvm_table_plane(spark, orders_dir, tmp_path):
    """Both per-column planes agree on the selector outcome for the INT
    columns: same codec and exact block size for the same value sequence
    (single chunk == single split, same block boundaries).  String columns
    are excluded: the JVM plane dense-ranks per CHUNK, the files plane per
    BLOCK — deliberately different dictionary granularity."""
    from rlv import table as T

    out = str(tmp_path / "enc")
    files = sorted(glob.glob(f"{orders_dir}/*.parquet"))
    table_files.encode_table_files(
        spark, files, out,
        order_col="o_orderkey", int_cols=INT_COLS, str_cols=STR_COLS,
        rows_per_block=4096, num_tasks=1,
    )
    fp = (
        spark.read.parquet(f"{out}/blocks")
        .filter(F.col("col_name").isin(INT_COLS))
        .select("col_name", "block_idx", "n_values", "codec_id", "enc_bytes")
    )
    src = (
        spark.read.parquet(orders_dir)
        .withColumn("chunk", F.lit(0))
    )
    jvm = T.encode_table_columns(
        src, chunk_col="chunk", order_col="o_orderkey",
        int_cols=INT_COLS, str_cols=STR_COLS, rows_per_block=4096,
    ).select(
        "col_name",
        F.col("block_idx"),
        "n_values",
        F.col("codec_id").alias("jvm_codec"),
        F.col("enc_bytes").alias("jvm_bytes"),
    )
    joined = fp.join(jvm, ["col_name", "block_idx"]).collect()
    assert joined, "planes produced disjoint blocks"
    for r in joined:
        assert r["codec_id"] == r["jvm_codec"], r
        assert r["enc_bytes"] == r["jvm_bytes"], r


def test_table_files_order_col_null_refused(spark, tmp_path):
    """NULL data values are represented (validity plane), but a NULL ORDER
    key has no position in the sequence: still refused loudly."""
    d = str(tmp_path / "nulls")
    spark.createDataFrame(
        [(1, "a"), (None, "b")], "k bigint, s string"
    ).coalesce(1).write.parquet(d)
    files = sorted(glob.glob(f"{d}/*.parquet"))
    with pytest.raises(Exception, match="order column"):
        table_files.encode_table_files(
            spark, files, str(tmp_path / "enc"),
            order_col="k", int_cols=["k"], str_cols=["s"], num_tasks=1,
        )


def test_table_files_nullable_roundtrip(spark, tmp_path):
    """The validity plane: nullable int AND string columns round-trip
    bit-identically (NULLs preserved), verify passes, and blocks without
    NULLs stay byte-identical to the unwrapped format."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "src")
    (
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select(
            "o_orderkey",
            F.expr(
                "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END"
            ).alias("custkey_n"),
            F.expr(
                "CASE WHEN o_orderkey % 5 = 3 THEN NULL "
                "ELSE o_orderpriority END"
            ).alias("pri_n"),
        )
        .repartition(2)
        .write.mode("overwrite")
        .parquet(d)
    )
    files = sorted(glob.glob(f"{d}/*.parquet"))
    out = str(tmp_path / "enc")
    res = table_files.encode_table_files(
        spark, files, out,
        order_col="o_orderkey", int_cols=["o_orderkey", "custkey_n"],
        str_cols=["pri_n"], rows_per_block=1024, num_tasks=2,
    )
    assert res["n_nulls"] > 0
    # order_col has no nulls -> its blocks must be unwrapped (codec id is
    # the inner one and NULLW never appears for null-free blocks)
    import pyarrow.parquet as pq

    from rlv import blocks as B

    for f in sorted(glob.glob(f"{out}/blocks/*.parquet")):
        tbl = pq.read_table(f)
        for name, nn, blob in zip(
            tbl.column("col_name").to_pylist(),
            tbl.column("n_nulls").to_pylist(),
            tbl.column("block").to_pylist(),
        ):
            wrapped = len(blob) > 0 and blob[0] == B.NULLW
            assert wrapped == (nn > 0), (name, nn)
    v = table_files.verify_table_files(spark, out)
    assert v["mismatches"] == 0
    restored = str(tmp_path / "restored")
    table_files.decode_table_files(spark, out, restored)
    src = spark.read.parquet(d)
    got = spark.read.parquet(restored)
    assert got.count() == src.count()
    joined = src.alias("s").join(
        got.alias("r"), F.col("s.o_orderkey") == F.col("r.o_orderkey")
    )
    bad = joined.filter(
        ~(
            F.col("s.custkey_n").eqNullSafe(F.col("r.custkey_n"))
            & F.col("s.pri_n").eqNullSafe(F.col("r.pri_n"))
        )
    ).count()
    assert bad == 0
    # NULL counts preserved exactly
    assert (
        got.filter(F.col("custkey_n").isNull()).count()
        == src.filter(F.col("custkey_n").isNull()).count()
    )
    assert (
        got.filter(F.col("pri_n").isNull()).count()
        == src.filter(F.col("pri_n").isNull()).count()
    )


def test_verify_table_files(spark, orders_dir, tmp_path):
    """Lineage verify on the table plane: all splits pass and get promoted
    to 'verified'; a corrupted block is detected and counted."""
    out = str(tmp_path / "enc")
    _encode(spark, orders_dir, out)
    res = table_files.verify_table_files(spark, out)
    n = spark.read.parquet(orders_dir).count()
    assert res["mismatches"] == 0 and res["rows"] == n
    pdf = engine_files._read_manifest_pdf(out)
    assert (pdf["status"] == "verified").all()

    # corrupt one block payload byte -> mismatches reported, not crash
    import pyarrow as pa
    import pyarrow.parquet as pq

    victim = sorted(glob.glob(f"{out}/blocks/*.parquet"))[0]
    tbl = pq.read_table(victim)
    blocks_col = tbl.column("block").to_pylist()
    idx = next(i for i, b in enumerate(blocks_col) if len(b) > 8)
    b = bytearray(blocks_col[idx])
    b[-1] ^= 0xFF
    blocks_col[idx] = bytes(b)
    tbl = tbl.set_column(
        tbl.column_names.index("block"), "block",
        pa.array(blocks_col, pa.binary()),
    )
    pq.write_table(tbl, victim, compression="zstd")
    res2 = table_files.verify_table_files(spark, out)
    assert res2["mismatches"] >= 1


def test_compact_table_plane_dataset(spark, orders_dir, tmp_path):
    """Table-plane compaction: split_seq provenance keeps every absorbed
    split's (col_name, block_idx) rows addressable, the manifest records
    per-member lineage, and verify + decode stay bit-identical after the
    merge."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    out = str(tmp_path / "enc")
    _encode(spark, orders_dir, out)
    before = sorted(glob.glob(f"{out}/blocks/*.parquet"))
    assert len(before) >= 2
    pre_blocks = {
        (r["split_seq"], r["col_name"], r["block_idx"]): bytes(r["block"])
        for r in spark.read.parquet(f"{out}/blocks").collect()
    }
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    after = sorted(glob.glob(f"{out}/blocks/*.parquet"))
    assert len(after) < len(before)
    post_blocks = {
        (r["split_seq"], r["col_name"], r["block_idx"]): bytes(r["block"])
        for r in spark.read.parquet(f"{out}/blocks").collect()
    }
    assert post_blocks == pre_blocks  # block bytes untouched
    # sidecars merged alongside, still keyed by split_seq
    side = pq.read_table(sorted(glob.glob(f"{out}/strings/*.parquet"))[0])
    assert len(set(side.column("split_seq").to_pylist())) >= 2
    # per-member lineage: verify replays each segment independently
    v = table_files.verify_table_files(spark, out)
    n = spark.read.parquet(orders_dir).count()
    assert v["mismatches"] == 0 and v["rows"] == n
    # resume still skips absorbed splits
    again = _encode(spark, orders_dir, out)
    assert again["splits_encoded"] == 0
    # decode of the merged file reconstructs the table bit-identically
    restored = str(tmp_path / "restored")
    dec = table_files.decode_table_files(spark, out, restored)
    assert dec["rows"] == n
    src = spark.read.parquet(orders_dir)
    got = spark.read.parquet(restored)
    bad = (
        src.alias("s")
        .join(got.alias("r"), F.col("s.o_orderkey") == F.col("r.o_orderkey"))
        .filter(
            (F.col("s.o_custkey") != F.col("r.o_custkey"))
            | (F.col("s.o_orderstatus") != F.col("r.o_orderstatus"))
            | (F.col("s.o_orderpriority") != F.col("r.o_orderpriority"))
        )
        .count()
    )
    assert bad == 0 and got.count() == n


def test_compact_table_plane_crash_drill(spark, orders_dir, tmp_path,
                                         monkeypatch):
    """Crash after table-plane compaction tasks renamed merged data but
    BEFORE the manifest flip: originals stay live (verify green), the rerun
    completes idempotently."""
    out = str(tmp_path / "enc")
    _encode(spark, orders_dir, out)
    n = spark.read.parquet(orders_dir).count()

    real_write = engine_files._write_manifest_pdf

    def crash(*a, **k):
        raise RuntimeError("simulated crash before manifest flip")

    monkeypatch.setattr(engine_files, "_write_manifest_pdf", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    monkeypatch.setattr(engine_files, "_write_manifest_pdf", real_write)
    # originals are still the live set and verify green
    v = table_files.verify_table_files(spark, out)
    assert v["mismatches"] == 0 and v["rows"] == n
    # rerun completes and the merged dataset still verifies + decodes
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    v2 = table_files.verify_table_files(spark, out)
    assert v2["mismatches"] == 0 and v2["rows"] == n


def test_decode_restores_source_int_widths(spark, tmp_path):
    """An int32 (or int16) source column must decode back at its ORIGINAL
    width, not the engine's internal int64 (r4: source dtypes recorded in
    table_schema.json)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    import os

    os.makedirs(d)
    tbl = pa.table(
        {
            "k": pa.array(range(100), pa.int32()),
            "v16": pa.array([i % 7 for i in range(100)], pa.int16()),
            "v64": pa.array([i * 10 for i in range(100)], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{d}/part0.parquet")
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "v16", "v64"], rows_per_block=64,
        num_tasks=1,
    )
    restored = str(tmp_path / "dec")
    table_files.decode_table_files(spark, out, restored)
    got = pq.read_table(restored)
    assert str(got.schema.field("k").type) == "int32"
    assert str(got.schema.field("v16").type) == "int16"
    assert str(got.schema.field("v64").type) == "int64"
    assert got.sort_by("k").equals(tbl)


def test_zonemap_pruned_scan(spark, tmp_path):
    """Zone-map predicate pushdown: a range scan on a clustered column
    decodes only the blocks whose [min, max] intersects the range, excludes
    NULLs (SQL BETWEEN semantics), and returns exactly the filter result at
    the recorded source widths."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 20000
    ck = [None if i % 11 == 0 else (i // 100) for i in range(n)]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            # clustered (k//100) with every 11th row NULL
            "band_n": pa.array(ck, pa.int32()),
        }
    )
    pq.write_table(tbl, f"{d}/part0.parquet", row_group_size=4096)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "band_n"], rows_per_block=1024,
        num_tasks=2,
    )
    lo, hi = 40, 44  # rows 4000..4499 minus NULLs
    st = table_files.zonemap_stats(out, "band_n", lo, hi)
    # the clustered column must prune hard: 5 bands ~= 500 rows of 20000
    assert st["blocks_matching"] < st["blocks_total"] // 3, st
    got = table_files.scan_table_files(spark, out, "band_n", lo, hi)
    assert dict(got.dtypes) == {"k": "bigint", "band_n": "int"}
    rows = sorted((r["k"], r["band_n"]) for r in got.collect())
    want = sorted(
        (i, ck[i]) for i in range(n)
        if ck[i] is not None and lo <= ck[i] <= hi
    )
    assert rows == want and len(rows) > 0
    # a non-int column is refused with the valid set named
    with pytest.raises(ValueError, match="int column"):
        table_files.scan_table_files(spark, out, "nope", 0, 1)


def test_zonemap_scan_projection(spark, tmp_path):
    """Projection scan: any mix of int and string columns comes back for
    the predicate's surviving rows — NULLs preserved in projected columns,
    source widths restored, string values dictionary-gathered per block."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    band = [None if i % 13 == 0 else (i // 50) for i in range(n)]
    extra = [None if i % 7 == 0 else i * 3 for i in range(n)]
    tag = [None if i % 5 == 0 else f"tag{i % 17}" for i in range(n)]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "band_n": pa.array(band, pa.int32()),
            "extra_n": pa.array(extra, pa.int16()),
            "tag_s": pa.array(tag, pa.string()),
        }
    )
    pq.write_table(tbl, f"{d}/part0.parquet", row_group_size=1500)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "band_n", "extra_n"],
        str_cols=["tag_s"], rows_per_block=512, num_tasks=2,
    )
    lo, hi = 20, 29
    got = table_files.scan_table_files(
        spark, out, "band_n", lo, hi,
        columns=["k", "tag_s", "extra_n", "band_n"],
    )
    assert got.columns == ["k", "tag_s", "extra_n", "band_n"]
    assert dict(got.dtypes) == {
        "k": "bigint", "tag_s": "string",
        "extra_n": "smallint", "band_n": "int",
    }
    rows = sorted(
        (r["k"], r["tag_s"], r["extra_n"], r["band_n"])
        for r in got.collect()
    )
    want = sorted(
        (i, tag[i], extra[i], band[i])
        for i in range(n)
        if band[i] is not None and lo <= band[i] <= hi
    )
    assert rows == want and len(rows) > 0
    # NULLs in PROJECTED columns must survive the scan
    assert any(r[1] is None for r in rows)
    assert any(r[2] is None for r in rows)
    # projection without the predicate column is legal too
    slim = table_files.scan_table_files(
        spark, out, "band_n", lo, hi, columns=["tag_s"]
    )
    assert slim.columns == ["tag_s"]
    assert sorted(
        (r["tag_s"] or "") for r in slim.collect()
    ) == sorted((t or "") for _, t, _, _ in want)
    with pytest.raises(ValueError, match="unknown column"):
        table_files.scan_table_files(
            spark, out, "band_n", lo, hi, columns=["nope"]
        )
    with pytest.raises(ValueError, match="duplicate"):
        table_files.scan_table_files(
            spark, out, "band_n", lo, hi, columns=["k", "k"]
        )


def test_zonemap_scan_on_order_column(spark, tmp_path):
    """Scanning the sort key itself — the primary zone-map case (perfectly
    clustered) — returns one column and prunes almost everything."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 10000
    tbl = pa.table({"k": pa.array(range(n), pa.int32())})
    pq.write_table(tbl, f"{d}/part0.parquet", row_group_size=2048)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k"], rows_per_block=512, num_tasks=2,
    )
    st = table_files.zonemap_stats(out, "k", 1000, 1099)
    assert st["blocks_matching"] <= 2 and st["blocks_total"] >= 18
    got = table_files.scan_table_files(spark, out, "k", 1000, 1099)
    assert got.columns == ["k"] and dict(got.dtypes) == {"k": "int"}
    assert sorted(r["k"] for r in got.collect()) == list(range(1000, 1100))
    with pytest.raises(ValueError, match="int column"):
        table_files.zonemap_stats(out, "typo", 0, 1)


def test_agg_pushdown_matches_sql(spark, tmp_path):
    """Aggregation pushed into the encoded format equals SQL count/sum/min/
    max over the same range predicate, on a NULLABLE clustered column —
    full-match blocks never decode the predicate, boundary blocks do, and
    NULL semantics hold on both the predicate and the value side."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 20000
    band = [None if i % 11 == 0 else (i // 100) for i in range(n)]
    val = [None if i % 7 == 3 else (i * 13) % 5000 - 700 for i in range(n)]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "band_n": pa.array(band, pa.int32()),
            "val_n": pa.array(val, pa.int32()),
        }
    )
    pq.write_table(tbl, f"{d}/part0.parquet", row_group_size=4096)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "band_n", "val_n"],
        rows_per_block=1024, num_tasks=2,
    )
    lo, hi = 40, 59  # spans full blocks AND boundary blocks
    got = table_files.agg_table_files(spark, out, "val_n", "band_n", lo, hi)
    [r] = got.collect()
    match = [i for i in range(n) if band[i] is not None and lo <= band[i] <= hi]
    vals = [val[i] for i in match if val[i] is not None]
    assert r["n_rows"] == len(match) > 0
    assert r["n_vals"] == len(vals)
    assert int(r["sum_val"]) == sum(vals)
    assert (r["min_val"], r["max_val"]) == (min(vals), max(vals))
    # value == predicate column: mask implies validity
    [r2] = table_files.agg_table_files(
        spark, out, "band_n", "band_n", lo, hi
    ).collect()
    bands = [band[i] for i in match]
    assert (r2["n_rows"], r2["n_vals"]) == (len(match), len(match))
    assert int(r2["sum_val"]) == sum(bands)
    assert (r2["min_val"], r2["max_val"]) == (lo, hi)
    # empty match: SQL shape (0, 0, NULL, NULL, NULL)
    [r3] = table_files.agg_table_files(
        spark, out, "val_n", "band_n", 10**6, 2 * 10**6
    ).collect()
    assert (r3["n_rows"], r3["n_vals"]) == (0, 0)
    assert r3["sum_val"] is None and r3["min_val"] is None
    # a string / unknown predicate or value column is refused
    with pytest.raises(ValueError, match="int column"):
        table_files.agg_table_files(spark, out, "nope", "band_n", lo, hi)


def test_agg_pushdown_survives_compaction_and_wide_sums(spark, tmp_path):
    """The aggregate stays exact after compaction merges splits (segment-
    keyed block ordinals), and near-int64 magnitudes take the wide exact-sum
    path without drift."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    big = [(2**62 + i) * (1 if i % 2 else -1) for i in range(n)]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "big_n": pa.array(big, pa.int64()),
        }
    )
    for j in range(4):
        pq.write_table(
            tbl.slice(j * 1000, 1000), f"{d}/part{j}.parquet"
        )
    out = str(tmp_path / "enc")
    files = sorted(f"{d}/part{j}.parquet" for j in range(4))
    table_files.encode_table_files(
        spark, files, out,
        order_col="k", int_cols=["k", "big_n"],
        rows_per_block=256, num_tasks=4,
    )
    lo, hi = 500, 3499
    want = [big[i] for i in range(lo, hi + 1)]

    def check():
        [r] = table_files.agg_table_files(
            spark, out, "big_n", "k", lo, hi
        ).collect()
        assert r["n_rows"] == r["n_vals"] == len(want)
        assert int(r["sum_val"]) == sum(want)
        assert (r["min_val"], r["max_val"]) == (min(want), max(want))

    check()
    before = len(glob.glob(f"{out}/blocks/*.parquet"))
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    assert len(glob.glob(f"{out}/blocks/*.parquet")) < before
    check()


def test_agg_full_blocks_are_metadata_only(spark, tmp_path, monkeypatch):
    """A full-matching block aggregates from its stats row (n_values,
    n_nulls, sum_val, zone map) alone — the value payload is never
    fetched; only the boundary (partial) blocks read bytes.  Files written
    before the ``sum_val`` stat existed fall back to the payload path and
    stay exact."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 8192
    val = [None if i % 5 == 0 else (i * 7) % 1000 for i in range(n)]
    allnull = [None] * n  # all-NULL blocks: no zone map, sum contributes 0
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "val_n": pa.array(val, pa.int32()),
            "dead_n": pa.array(allnull, pa.int32()),
        }
    )
    pq.write_table(tbl, f"{d}/part0.parquet", row_group_size=2048)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "val_n", "dead_n"],
        rows_per_block=1024, num_tasks=1,
    )
    lo, hi = 1024, 5119  # block-aligned: every surviving block full-matches
    fetched: list[dict] = []
    real_fetch = table_files._fetch_payloads

    def spy_fetch(path, file_sid, seg, need):
        fetched.append({c: set(v) for c, v in need.items() if v})
        return real_fetch(path, file_sid, seg, need)

    monkeypatch.setattr(table_files, "_fetch_payloads", spy_fetch)
    schema = table_files._load_table_schema(out)
    reducer = table_files._AggReducer(schema, ["val_n", "dead_n"])
    specs = table_files._norm_preds(schema, [("between", "k", lo, hi)])
    [res] = _pipeline_frames(out, reducer, specs)
    got = {r.val_col: r for _, r in res.iterrows()}
    want = [val[i] for i in range(lo, hi + 1) if val[i] is not None]
    assert got["val_n"]["n_rows"] == hi - lo + 1
    assert got["val_n"]["n_vals"] == len(want)
    assert int(got["val_n"]["sum_val"]) == sum(want)
    assert (got["val_n"]["min_val"], got["val_n"]["max_val"]) == (
        min(want), max(want))
    assert got["dead_n"]["n_vals"] == 0
    assert pd.isna(got["dead_n"]["min_val"])
    # the metadata-only property: no value column ever needed payload
    # (the block-aligned range has no partial blocks at all)
    assert fetched and all(not f for f in fetched), fetched
    # pre-sum_val generation: strip the stat column -> payload fallback,
    # same exact answer
    [bpath] = glob.glob(f"{out}/blocks/*.parquet")
    old = pq.read_table(bpath)
    pq.write_table(old.drop_columns(["sum_val"]), bpath)
    fetched.clear()
    [res2] = _pipeline_frames(out, reducer, specs)
    got2 = {r.val_col: r for _, r in res2.iterrows()}
    assert int(got2["val_n"]["sum_val"]) == sum(want)
    assert got2["val_n"]["n_vals"] == len(want)
    assert any(f.get("val_n") for f in fetched)  # fallback read payload
    # and the Spark-level operator agrees end to end on the old generation
    [r3] = table_files.agg_table_files(spark, out, "val_n", "k", lo, hi
                                       ).collect()
    assert int(r3["sum_val"]) == sum(want)
    # EXPLAIN on the old generation bills the fallback payload exactly
    [ex_old] = table_files.explain_agg_table_files(
        spark, out, "val_n", [("between", "k", lo, hi)]
    ).collect()
    assert ex_old["blocks_meta_served"] == 0
    assert ex_old["payload_bytes"] > 0


def test_explain_agg_bills_zero_payload_when_metadata_serves(spark,
                                                             tmp_path):
    """EXPLAIN for the aggregate: a block-aligned full-range aggregate on
    a sum_val dataset reports payload_bytes = 0 with every full block
    meta-served; a boundary range bills exactly the partial blocks'
    recorded enc_bytes (value + predicate columns)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 8192
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "v": pa.array([(i * 11) % 977 for i in range(n)],
                              pa.int64()),
            }
        ),
        f"{d}/part0.parquet", row_group_size=2048,
    )
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "v"],
        rows_per_block=1024, num_tasks=1,
    )
    [ex] = table_files.explain_agg_table_files(
        spark, out, "v", [("between", "k", 0, n)]
    ).collect()
    assert ex["blocks_full"] == 8 and ex["blocks_partial"] == 0
    assert ex["blocks_meta_served"] == 8
    assert ex["payload_bytes"] == 0
    # boundary range: 2 partial blocks bill exactly their recorded bytes
    [ex2] = table_files.explain_agg_table_files(
        spark, out, "v", [("between", "k", 1500, 2500)]
    ).collect()
    assert ex2["blocks_partial"] == 2 and ex2["blocks_meta_served"] == 0
    import pyarrow.parquet as pq2
    bt = pq2.read_table(glob.glob(f"{out}/blocks/*.parquet")[0],
                        columns=["col_name", "block_idx", "enc_bytes"])
    bill = sum(
        eb for c, bi, eb in zip(
            bt.column("col_name").to_pylist(),
            bt.column("block_idx").to_pylist(),
            bt.column("enc_bytes").to_pylist(),
        )
        if bi in (1, 2)  # rows 1024-2047 and 2048-3071
    )
    assert ex2["payload_bytes"] == bill  # k (pred) + v (value) both blocks
    # the full-match middle region of a wider range stays meta-served
    [ex3] = table_files.explain_agg_table_files(
        spark, out, "v", [("between", "k", 1024, 5119)]
    ).collect()
    assert ex3["blocks_full"] == 4 and ex3["blocks_meta_served"] == 4
    assert ex3["blocks_partial"] == 0 and ex3["payload_bytes"] == 0


def _pipeline_frames(enc_dir, reducer, specs=()):
    """The block pipeline's typed output batch of each query task, run
    in-process (no Spark), as pandas frames."""
    symbols = engine_files._load_symbols(enc_dir)
    schema = table_files._arrow_schema(reducer.ddl)[1]
    return [
        table_files._task_frame(
            table_files._classify_file(path, seg, list(specs),
                                       reducer.cols, symbols),
            reducer, schema,
        ).to_pandas()
        for path, seg in table_files._task_rows(
            table_files._query_tasks(enc_dir))
    ]


def _typed_fixture(tmp_path):
    """orders with a timestamp, a float64 (NaN / -0.0 / +0.0 / NULL
    seeded), and a nullable timestamp — the typed-column drill table."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d, exist_ok=True)
    src = pq.read_table(
        "/root/testdata/sf0.01/orders.parquet",
        columns=["o_orderkey", "o_orderdate", "o_totalprice"],
    ).sort_by("o_orderkey")
    n = len(src)
    tp = src.column("o_totalprice").to_numpy(zero_copy_only=False).copy()
    tp[3] = np.nan
    tp[9] = -0.0
    tp[11] = 0.0
    fmask = np.zeros(n, bool)
    fmask[::13] = True
    od = src.column("o_orderdate")
    odmask = np.zeros(n, bool)
    odmask[::17] = True
    src = pa.table(
        {
            "o_orderkey": src.column("o_orderkey"),
            "o_orderdate": pa.array(od.to_pylist(), od.type, mask=odmask),
            "o_totalprice": pa.array(tp, pa.float64(), mask=fmask),
        }
    )
    sp = f"{d}/src.parquet"
    pq.write_table(src, sp, row_group_size=4096)
    return src, sp


def test_typed_columns_roundtrip_bit_identical(spark, tmp_path):
    """Timestamp and float64 columns ride the int64 plane losslessly:
    encode -> verify (0 mismatches) -> decode restores the ORIGINAL types
    and every bit — NaN payloads, -0.0 vs +0.0, NULLs — exactly."""
    import pyarrow.parquet as pq

    src, sp = _typed_fixture(tmp_path)
    out = str(tmp_path / "enc")
    res = table_files.encode_table_files(
        spark, [sp], out, order_col="o_orderkey",
        int_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
        rows_per_block=1024, num_tasks=3,
    )
    assert res["n_nulls"] > 0
    v = table_files.verify_table_files(spark, out)
    assert v["mismatches"] == 0 and v["rows"] == len(src)
    dec = str(tmp_path / "dec")
    table_files.decode_table_files(spark, out, dec)
    got = pq.ParquetDataset(dec).read().sort_by("o_orderkey")
    assert got.schema.field("o_orderdate").type == \
        src.schema.field("o_orderdate").type
    assert str(got.schema.field("o_totalprice").type) == "double"
    # bit-level float compare (NaN payloads and signed zeros included)
    gm = got.column("o_totalprice")
    sm = src.column("o_totalprice")
    assert gm.is_valid().to_pylist() == sm.is_valid().to_pylist()
    gv = gm.fill_null(0).to_numpy(zero_copy_only=False).view(np.int64)
    sv = sm.fill_null(0).to_numpy(zero_copy_only=False).view(np.int64)
    assert np.array_equal(gv, sv)
    assert got.column("o_orderdate").combine_chunks().equals(
        src.column("o_orderdate").combine_chunks()
    )


def test_typed_query_operators_match_duckdb(spark, tmp_path):
    """The pushdown layer on typed columns: timestamp BETWEEN with
    datetime literals, float ranges and IN-lists where 0.0 must match BOTH
    signed zeros, typed min/max and top-k, GROUP BY a timestamp key,
    DISTINCT — every result equal to DuckDB over the same parquet; sums
    on typed columns are refused."""
    import datetime as dt

    import duckdb

    src, sp = _typed_fixture(tmp_path)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [sp], out, order_col="o_orderkey",
        int_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
        rows_per_block=1024, num_tasks=3,
    )
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{sp}')")
    lo, hi = dt.datetime(1996, 1, 1), dt.datetime(1996, 12, 31, 23, 59, 59)
    got = table_files.scan_table_files_where(
        spark, out, [("between", "o_orderdate", lo, hi)],
        columns=["o_orderkey", "o_orderdate"],
    ).collect()
    want = duck.sql(
        "SELECT o_orderkey, o_orderdate FROM t WHERE o_orderdate BETWEEN "
        "'1996-01-01' AND '1996-12-31 23:59:59' ORDER BY 1"
    ).fetchall()
    assert sorted((r.o_orderkey, r.o_orderdate) for r in got) == \
        [(a, b) for a, b in want]
    assert len(want) > 50
    got2 = table_files.scan_table_files_where(
        spark, out, [("between", "o_totalprice", 0.0, 50000.0)],
        columns=["o_orderkey", "o_totalprice"],
    ).collect()
    want2 = duck.sql(
        "SELECT o_orderkey, o_totalprice FROM t "
        "WHERE o_totalprice BETWEEN 0.0 AND 50000.0 ORDER BY 1"
    ).fetchall()
    assert sorted((r.o_orderkey, r.o_totalprice) for r in got2) == \
        [(a, b) for a, b in want2]
    assert sum(1 for _, v in want2 if v == 0.0) == 2  # both signed zeros
    v100 = duck.sql(
        "SELECT o_totalprice FROM t WHERE o_orderkey = 402"
    ).fetchone()[0]
    gi = table_files.scan_table_files_where(
        spark, out, [("int_in", "o_totalprice", [0.0, v100])],
        columns=["o_orderkey", "o_totalprice"],
    ).collect()
    wi = duck.sql(
        f"SELECT o_orderkey, o_totalprice FROM t "
        f"WHERE o_totalprice IN (0.0, {v100!r}) ORDER BY 1"
    ).fetchall()
    assert sorted((r.o_orderkey, r.o_totalprice) for r in gi) == \
        [(a, b) for a, b in wi] and len(wi) >= 3
    [mm] = table_files.minmax_table_files_where(
        spark, out, "o_orderdate",
        [("between", "o_orderkey", 1, 10 ** 9)],
    ).collect()
    assert (mm.min_val, mm.max_val) == duck.sql(
        "SELECT min(o_orderdate), max(o_orderdate) FROM t"
    ).fetchone()
    tk = table_files.topk_table_files(
        spark, out, "o_totalprice", 5, ascending=True,
        columns=["o_orderkey", "o_totalprice"],
        preds=[("notnull", "o_totalprice")],
    ).collect()
    wtk = duck.sql(
        "SELECT o_orderkey, o_totalprice FROM t WHERE o_totalprice IS "
        "NOT NULL ORDER BY o_totalprice ASC, o_orderkey LIMIT 5"
    ).fetchall()
    assert [(r.o_orderkey, r.o_totalprice) for r in tk] == \
        [(a, b) for a, b in wtk]
    gg = table_files.agg_table_files_by(
        spark, out, "o_orderkey", "o_orderdate",
        preds=[("between", "o_orderkey", 1, 2000)],
    ).collect()
    wg = duck.sql(
        "SELECT o_orderdate, count(*), sum(o_orderkey) FROM t "
        "WHERE o_orderkey BETWEEN 1 AND 2000 GROUP BY 1"
    ).fetchall()
    from collections import Counter

    # Counter compare: the NULL group key breaks tuple sorting
    assert Counter(
        (r.o_orderdate, r.n_rows, int(r.sum_val)) for r in gg
    ) == Counter((a, n, int(s)) for a, n, s in wg)
    di = table_files.distinct_table_files(spark, out, "o_orderdate")
    assert Counter(r[0] for r in di.collect()) == Counter(
        a for (a,) in duck.sql(
            "SELECT DISTINCT o_orderdate FROM t").fetchall()
    )
    with pytest.raises(ValueError, match="logical type"):
        table_files.agg_table_files(
            spark, out, "o_totalprice", "o_orderkey", 1, 100
        )
    with pytest.raises(ValueError, match="NaN literal"):
        table_files.scan_table_files_where(
            spark, out, [("between", "o_totalprice", float("nan"), 1.0)]
        )


def test_typed_columns_survive_compaction(spark, tmp_path):
    """Compacting a typed dataset keeps verify green, decode bit-exact,
    and typed scans identical (the plane keys are container-independent)."""
    src, sp = _typed_fixture(tmp_path)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [sp], out, order_col="o_orderkey",
        int_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
        rows_per_block=1024, num_tasks=4,
    )
    before = table_files.scan_table_files_where(
        spark, out, [("between", "o_totalprice", 0.0, 90000.0)],
        columns=["o_orderkey", "o_totalprice"],
    ).collect()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] == 1
    assert table_files.verify_table_files(spark, out)["mismatches"] == 0
    after = table_files.scan_table_files_where(
        spark, out, [("between", "o_totalprice", 0.0, 90000.0)],
        columns=["o_orderkey", "o_totalprice"],
    ).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert len(after) > 100


def test_decimal_declared_columns_exact_sums(spark, tmp_path):
    """decimal_cols: currency doubles store their exact scaled integers —
    SUM/AVG push down exactly (decimal(38,s) outputs), min/max/scan
    literals tighten on the double grid (on-grid literals like 0.05 whose
    binary value is off the exact decimal match exactly; off-grid IN
    literals match nothing), decode restores the doubles bit-identically,
    and non-representable values refuse loudly."""
    import os
    from decimal import Decimal

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    price = [
        None if i % 17 == 0 else round((i * 97) % 100000) / 100
        for i in range(n)
    ]
    g = [chr(ord("A") + (i % 3)) for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "price_n": pa.array(price, pa.float64()),
                "g": pa.array(g, pa.string()),
            }
        ),
        f"{d}/part0.parquet", row_group_size=2048,
    )
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "price_n"], str_cols=["g"],
        rows_per_block=1024, num_tasks=2,
        decimal_cols={"price_n": 2},
    )
    duck = duckdb.connect()
    duck.sql(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{d}/part0.parquet')"
    )
    [r] = table_files.agg_table_files(
        spark, out, "price_n", "k", 100, 4099
    ).collect()
    [w] = duck.sql(
        "SELECT count(*), count(price_n), "
        "CAST(sum(CAST(round(price_n*100) AS BIGINT)) AS DECIMAL(38,2))"
        "/100, min(price_n), max(price_n) "
        "FROM t WHERE k BETWEEN 100 AND 4099"
    ).fetchall()
    assert (r.n_rows, r.n_vals, Decimal(str(r.sum_val)),
            r.min_val, r.max_val) == \
        (w[0], w[1], Decimal(str(w[2])), w[3], w[4])
    # grouped sums, decimal-typed
    gg = table_files.agg_table_files_by(
        spark, out, "price_n", "g",
        preds=[("between", "k", 0, n)],
    ).collect()
    wg = duck.sql(
        "SELECT g, count(*), CAST(sum(CAST(round(price_n*100) AS BIGINT))"
        " AS DECIMAL(38,2))/100 FROM t GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert sorted(
        (r["g"], r.n_rows, Decimal(str(r.sum_val))) for r in gg
    ) == [(a, c, Decimal(str(s))) for a, c, s in wg]
    # double-grid literal semantics: 0.05-style (binary-inexact) literals
    lo, hi = 1.05, 499.95
    got = table_files.scan_table_files_where(
        spark, out, [("between", "price_n", lo, hi)],
        columns=["k", "price_n"],
    ).collect()
    want = duck.sql(
        f"SELECT k, price_n FROM t WHERE price_n BETWEEN {lo} AND {hi} "
        "ORDER BY 1"
    ).fetchall()
    assert sorted((r["k"], r["price_n"]) for r in got) == \
        [(a, b) for a, b in want] and len(want) > 0
    v0 = next(p for p in price if p is not None)
    gi = table_files.scan_table_files_where(
        spark, out, [("int_in", "price_n", [v0, 0.005])],
        columns=["k", "price_n"],
    ).collect()
    wi = duck.sql(
        f"SELECT k, price_n FROM t WHERE price_n IN ({v0!r}) ORDER BY 1"
    ).fetchall()
    assert sorted((r["k"], r["price_n"]) for r in gi) == \
        [(a, b) for a, b in wi] and len(wi) > 0
    # decode restores the doubles (and NULLs) bit-identically
    dec_dir = str(tmp_path / "dec")
    table_files.decode_table_files(spark, out, dec_dir)
    got_t = pq.ParquetDataset(dec_dir).read().sort_by("k")
    src_t = pq.read_table(f"{d}/part0.parquet")
    assert got_t.column("price_n").combine_chunks().equals(
        src_t.column("price_n").combine_chunks()
    )
    # full blocks of a decimal column are metadata-served
    [ex] = table_files.explain_agg_table_files(
        spark, out, "price_n", [("between", "k", 0, n)]
    ).collect()
    assert ex["payload_bytes"] == 0
    # a value that does not round-trip at the scale refuses loudly
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2], pa.int64()),
                "price_n": pa.array([1.005, 2.0], pa.float64()),
            }
        ),
        f"{bad}/part0.parquet",
    )
    with pytest.raises(Exception, match="round-trip|decimal"):
        table_files.encode_table_files(
            spark, [f"{bad}/part0.parquet"], str(tmp_path / "bad_enc"),
            order_col="k", int_cols=["k", "price_n"],
            decimal_cols={"price_n": 2}, num_tasks=1,
        )



def test_index_cols_prune_unclustered_point_lookups(spark, tmp_path):
    """index_cols: a per-block membership index (sorted-distinct plane
    values as order-preserving sidecar keys) prunes point lookups and
    IN-lists on an UNCLUSTERED key to the blocks that actually hold the
    key — classification-only (the paired range spec masks rows exactly),
    so results equal SQL on every surface, surviving compaction."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 60000
    rng = np.random.default_rng(11)
    fk = rng.integers(0, 500_000, size=n)
    fk[::97] = 777_777  # one repeated hot key across many blocks
    nmask = np.zeros(n, bool)
    nmask[::31] = True
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "fk_n": pa.array(fk, pa.int64(), mask=nmask),
                "v": pa.array(rng.integers(0, 1000, n), pa.int64()),
            }
        ),
        f"{d}/p.parquet", row_group_size=16384,
    )
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/p.parquet"], out, order_col="k",
        int_cols=["k", "fk_n", "v"], rows_per_block=1024, num_tasks=3,
        index_cols=["fk_n"],
    )
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{d}/p.parquet')")
    key = int(fk[5])
    assert not nmask[5]

    def check():
        got = table_files.scan_table_files_where(
            spark, out, [("int_in", "fk_n", [key])], columns=["k", "fk_n"]
        ).collect()
        want = duck.sql(
            f"SELECT k, fk_n FROM t WHERE fk_n = {key} ORDER BY 1"
        ).fetchall()
        assert sorted((r["k"], r["fk_n"]) for r in got) == \
            [(a, b) for a, b in want] and len(want) >= 1
        [ex] = table_files.explain_scan_table_files(
            spark, out, [("int_in", "fk_n", [key])], columns=["k", "fk_n"]
        ).collect()
        # the membership index prunes to the blocks holding the key
        assert 0 < (ex.blocks_full + ex.blocks_partial) <= len(want) + 1
        assert ex.blocks_total >= 50
        # IN-list incl. an absent literal; count + agg on the same pred
        got2 = table_files.scan_table_files_where(
            spark, out,
            [("int_in", "fk_n", [key, 999_999_999])], columns=["k"],
        ).collect()
        assert sorted(r["k"] for r in got2) == [a for a, _ in want]
        [c] = table_files.count_table_files_where(
            spark, out, [("int_in", "fk_n", [777_777])]
        ).collect()
        [wc] = duck.sql(
            "SELECT count(*) FROM t WHERE fk_n = 777777"
        ).fetchall()
        assert c.n_rows == wc[0] > 100
        [a] = table_files.agg_table_files_where(
            spark, out, "v", [("int_in", "fk_n", [777_777])]
        ).collect()
        [wa] = duck.sql(
            "SELECT count(v), sum(v) FROM t WHERE fk_n = 777777"
        ).fetchall()
        assert (a.n_vals, int(a.sum_val)) == (wa[0], int(wa[1]))
        # range predicates classify through the index too
        got3 = table_files.scan_table_files_where(
            spark, out, [("between", "fk_n", 777_000, 778_000)],
            columns=["k", "fk_n"],
        ).collect()
        want3 = duck.sql(
            "SELECT k, fk_n FROM t WHERE fk_n BETWEEN 777000 AND 778000 "
            "ORDER BY 1"
        ).fetchall()
        assert sorted((r["k"], r["fk_n"]) for r in got3) == \
            [(a, b) for a, b in want3]

    check()
    # ANALYZE: an indexed int column gains an exact metadata-only NDV
    # (folded from its membership keys), hex keys never leak into
    # min_str/max_str
    st = {r.col_name: r
          for r in table_files.stats_table_files(spark, out).collect()}
    [wn] = duck.sql("SELECT count(DISTINCT fk_n) FROM t").fetchall()
    assert st["fk_n"].ndv == wn[0]
    assert st["fk_n"].min_str is None and st["fk_n"].max_str is None
    assert st["k"].ndv is None  # unindexed ints keep NULL ndv
    # DISTINCT on the indexed column is sidecar-only and exact
    dv = sorted(
        r[0] for r in table_files.distinct_table_files(
            spark, out, "fk_n"
        ).collect() if r[0] is not None
    )
    wv = [a for (a,) in duck.sql(
        "SELECT DISTINCT fk_n FROM t WHERE fk_n IS NOT NULL ORDER BY 1"
    ).fetchall()]
    assert dv == wv
    assert table_files.verify_table_files(spark, out)["mismatches"] == 0
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] == 1
    check()  # index sidecars merged; pruning and results unchanged
    # index declarations are pinned: a resume without them fails loudly
    with pytest.raises(ValueError, match="different table schema"):
        table_files.encode_table_files(
            spark, [f"{d}/p.parquet"], out, order_col="k",
            int_cols=["k", "fk_n", "v"], rows_per_block=1024, num_tasks=3,
        )
    # only int-plane columns can be indexed
    with pytest.raises(ValueError, match="index_cols"):
        table_files.encode_table_files(
            spark, [f"{d}/p.parquet"], str(tmp_path / "bad"),
            order_col="k", int_cols=["k"], index_cols=["nope"],
            num_tasks=1,
        )


def test_float32_columns_roundtrip_and_scan(spark, tmp_path):
    """float32 sources ride their own 32-bit total-order keys (never
    widened to float64): bit-exact roundtrip incl. NULLs, range scans
    equal DuckDB, and a float32 decimal declaration uses the float32
    grid."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    rng = np.random.default_rng(7)
    v = rng.normal(scale=100.0, size=n).astype(np.float32)
    v[3] = np.float32(0.0)
    v[5] = np.float32(-0.0)
    mask = np.zeros(n, bool)
    mask[::19] = True
    cents = (rng.integers(0, 10 ** 6, size=n) / 100.0).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "f_n": pa.array(v, pa.float32(), mask=mask),
                "c": pa.array(cents, pa.float32()),
            }
        ),
        f"{d}/p.parquet",
    )
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/p.parquet"], out, order_col="k",
        int_cols=["k", "f_n", "c"], rows_per_block=512, num_tasks=2,
        decimal_cols={"c": 2},
    )
    assert table_files.verify_table_files(spark, out)["mismatches"] == 0
    dec_dir = str(tmp_path / "dec")
    table_files.decode_table_files(spark, out, dec_dir)
    got = pq.ParquetDataset(dec_dir).read().sort_by("k")
    assert str(got.schema.field("f_n").type) == "float"
    gm = got.column("f_n").fill_null(0).to_numpy(zero_copy_only=False)
    sm = np.where(mask, np.float32(0), v)
    assert np.array_equal(gm.view(np.int32), sm.view(np.int32))
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{d}/p.parquet')")
    gotr = table_files.scan_table_files_where(
        spark, out, [("between", "f_n", -50.0, 75.5)],
        columns=["k", "f_n"],
    ).collect()
    want = duck.sql(
        "SELECT k, f_n FROM t WHERE f_n BETWEEN -50.0 AND 75.5 ORDER BY 1"
    ).fetchall()
    assert sorted((r["k"], r["f_n"]) for r in gotr) == \
        [(a, b) for a, b in want] and len(want) > 100
    # float32 decimal: exact sums on the scaled plane
    from decimal import Decimal

    [r] = table_files.agg_table_files(spark, out, "c", "k", 0, n).collect()
    [w] = duck.sql(
        "SELECT CAST(sum(CAST(round(CAST(c AS DOUBLE)*100) AS BIGINT)) "
        "AS DECIMAL(38,2))/100 FROM t"
    ).fetchall()
    assert Decimal(str(r.sum_val)) == Decimal(str(w[0]))


def test_epoch_literals_round_toward_range_inside(spark, tmp_path):
    """A literal finer than the column's epoch unit tightens toward the
    range's inside: on a date32 column, a mid-day lo bound EXCLUDES that
    day (ceil) while a mid-day hi bound INCLUDES it (floor) — plain
    truncation would widen the lo bound and admit wrong rows.  Same on a
    timestamp[s] column with microsecond literals."""
    import datetime as dt
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 3000
    days = [dt.date(2020, 1, 1) + dt.timedelta(days=i % 400)
            for i in range(n)]
    secs = [dt.datetime(2021, 1, 1) + dt.timedelta(seconds=i % 5000)
            for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "d": pa.array(days, pa.date32()),
                "t": pa.array(secs, pa.timestamp("s")),
            }
        ),
        f"{d}/p.parquet",
    )
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/p.parquet"], out, order_col="k",
        int_cols=["k", "d", "t"], rows_per_block=512, num_tasks=2,
    )
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{d}/p.parquet')")
    lo = dt.datetime(2020, 3, 1, 12, 0)   # mid-day: ceils to 2020-03-02
    hi = dt.datetime(2020, 6, 1, 12, 0)   # mid-day: floors to 2020-06-01
    got = table_files.scan_table_files_where(
        spark, out, [("between", "d", lo, hi)], columns=["k", "d"]
    ).collect()
    want = duck.sql(
        "SELECT k, d FROM t WHERE d >= TIMESTAMP '2020-03-01 12:00:00' "
        "AND d <= TIMESTAMP '2020-06-01 12:00:00' ORDER BY 1"
    ).fetchall()
    assert sorted((r["k"], r["d"]) for r in got) == \
        [(a, b) for a, b in want] and len(want) > 0
    assert all(dt.date(2020, 3, 2) <= b <= dt.date(2020, 6, 1)
               for _, b in want)
    # timestamp[s] column, microsecond literals
    lo2 = dt.datetime(2021, 1, 1, 0, 10, 0, 500000)  # ceils to :10:01
    hi2 = dt.datetime(2021, 1, 1, 0, 40, 0, 500000)  # floors to :40:00
    got2 = table_files.scan_table_files_where(
        spark, out, [("between", "t", lo2, hi2)], columns=["k", "t"]
    ).collect()
    want2 = duck.sql(
        "SELECT k, t FROM t WHERE t >= TIMESTAMP '2021-01-01 00:10:00.5' "
        "AND t <= TIMESTAMP '2021-01-01 00:40:00.5' ORDER BY 1"
    ).fetchall()
    assert sorted((r["k"], r["t"]) for r in got2) == \
        [(a, b) for a, b in want2] and len(want2) > 0


def test_string_minmax_via_distinct_pipe(spark, tmp_path):
    """min/max on a STRING column under predicates: full blocks fold
    their dictionary sidecars, boundary blocks decode and mask; NULLs
    skipped, all-pruned -> NULL row."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 5000
    s = [None if i % 11 == 0 else f"tag{(i * 7) % 97:03d}"
         for i in range(n)]
    pq.write_table(
        pa.table({"k": pa.array(range(n), pa.int64()),
                  "s_n": pa.array(s, pa.string())}),
        f"{d}/p.parquet", row_group_size=2048,
    )
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/p.parquet"], out, order_col="k",
        int_cols=["k"], str_cols=["s_n"],
        rows_per_block=512, num_tasks=2,
    )
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{d}/p.parquet')")
    for lo, hi in [(0, n), (700, 1800), (4999, 4999)]:
        [r] = table_files.minmax_table_files_where(
            spark, out, "s_n", [("between", "k", lo, hi)]
        ).collect()
        w = duck.sql(
            f"SELECT min(s_n), max(s_n) FROM t WHERE k BETWEEN {lo} "
            f"AND {hi}"
        ).fetchone()
        assert (r.min_val, r.max_val) == w, (lo, hi, r, w)
    [r2] = table_files.minmax_table_files_where(
        spark, out, "s_n", [("between", "k", 10 ** 8, 2 * 10 ** 8)]
    ).collect()
    assert r2.min_val is None and r2.max_val is None


def test_ctas_propagates_decimal_declarations(spark, tmp_path):
    """CTAS from a decimal-declared dataset re-declares the scales on the
    destination (the staged scan output holds restored doubles), so the
    new dataset keeps the exact-sum plane."""
    import os
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    price = [round((i * 37) % 9000) / 100 for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "price": pa.array(price, pa.float64()),
            }
        ),
        f"{d}/part0.parquet",
    )
    src_enc = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], src_enc,
        order_col="k", int_cols=["k", "price"],
        decimal_cols={"price": 2}, rows_per_block=512, num_tasks=2,
    )
    dst = str(tmp_path / "dst")
    table_files.ctas_table_files(
        spark, src_enc, dst, [("between", "k", 500, 3499)],
        columns=["k", "price"],
    )
    dtypes = table_files._load_table_schema(dst)["int_col_types"]
    assert dtypes["price"] == "dec2:double"
    [r] = table_files.agg_table_files(
        spark, dst, "price", "k", 0, n
    ).collect()
    want = [price[i] for i in range(500, 3500)]
    assert r.n_vals == len(want)
    assert Decimal(str(r.sum_val)) == \
        Decimal(sum(round(p * 100) for p in want)) / 100
    assert table_files.verify_table_files(spark, dst)["mismatches"] == 0


def test_scan_skips_segment_full_predicate_columns(spark, tmp_path):
    """A predicate that full-matches EVERY surviving block of a task
    reads nothing: its column is dropped from the payload read (EXPLAIN
    bills only the projected column) and the scan result is still exactly
    SQL's."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 8192
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "v": pa.array([(i * 13) % 911 for i in range(n)],
                              pa.int64()),
                "s": pa.array(["x"] * n, pa.string()),
            }
        ),
        f"{d}/part0.parquet", row_group_size=2048,
    )
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "v"], str_cols=["s"],
        rows_per_block=1024, num_tasks=1,
    )
    # block-aligned interior range: k full-matches every surviving block
    lo, hi = 1024, 5119
    got = table_files.scan_table_files_where(
        spark, out, [("between", "k", lo, hi)], columns=["v"]
    ).collect()
    assert sorted(r["v"] for r in got) == sorted(
        (i * 13) % 911 for i in range(lo, hi + 1)
    )
    [ex] = table_files.explain_scan_table_files(
        spark, out, [("between", "k", lo, hi)], columns=["v"]
    ).collect()
    bt = pq.read_table(
        glob.glob(f"{out}/blocks/*.parquet")[0],
        columns=["col_name", "block_idx", "enc_bytes"],
    )
    v_bill = sum(
        eb for c, bi, eb in zip(
            bt.column("col_name").to_pylist(),
            bt.column("block_idx").to_pylist(),
            bt.column("enc_bytes").to_pylist(),
        )
        if c == "v" and 1 <= bi <= 4
    )
    # the bill is v's surviving blocks ONLY — k (the predicate) is free
    assert ex["payload_bytes"] == v_bill > 0
    # a whole-dictionary member pred is free the same way
    got2 = table_files.scan_table_files_where(
        spark, out, [("eq", "s", "x"), ("between", "k", lo, hi)],
        columns=["v"],
    ).collect()
    assert sorted(r["v"] for r in got2) == sorted(
        (i * 13) % 911 for i in range(lo, hi + 1)
    )
    [ex2] = table_files.explain_scan_table_files(
        spark, out, [("eq", "s", "x"), ("between", "k", lo, hi)],
        columns=["v"],
    ).collect()
    assert ex2["payload_bytes"] == v_bill
    # a boundary (partial) range still reads and masks the pred column
    got3 = table_files.scan_table_files_where(
        spark, out, [("between", "k", 1500, 2500)], columns=["v"]
    ).collect()
    assert sorted(r["v"] for r in got3) == sorted(
        (i * 13) % 911 for i in range(1500, 2501)
    )


def test_group_agg_clustered_blocks_metadata_only(spark, tmp_path,
                                                  monkeypatch):
    """GROUP BY on group-clustered data is metadata-only: every block whose
    group zone map is a point (or is all-NULL) emits its group partial from
    the stats row — int keys, string keys (one tiny dictionary decode), and
    composite keys alike fetch NO payload."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 8192
    g = [None if i // 1024 == 3 else i // 1024 for i in range(n)]
    s = [chr(ord("A") + i // 2048) for i in range(n)]
    val = [None if i % 9 == 2 else (i * 3) % 500 for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "k": pa.array(range(n), pa.int64()),
                "g_n": pa.array(g, pa.int32()),
                "s": pa.array(s, pa.string()),
                "val_n": pa.array(val, pa.int32()),
            }
        ),
        f"{d}/part0.parquet", row_group_size=2048,
    )
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "g_n", "val_n"], str_cols=["s"],
        rows_per_block=1024, num_tasks=1,
    )
    fetched: list[dict] = []
    real_fetch = table_files._fetch_payloads

    def spy_fetch(path, file_sid, seg, need):
        fetched.append({c: set(v) for c, v in need.items() if v})
        return real_fetch(path, file_sid, seg, need)

    monkeypatch.setattr(table_files, "_fetch_payloads", spy_fetch)
    dims = {"g": g, "s": s}

    def expect(keys):
        acc: dict = {}
        for i in range(n):
            kt = tuple(dims[k][i] for k in keys)
            cur = acc.setdefault(kt, [0, 0, 0])
            cur[0] += 1
            if val[i] is not None:
                cur[1] += 1
                cur[2] += val[i]
        return {
            k: (c[0], c[1], c[2] if c[1] else None)
            for k, c in acc.items()
        }

    schema = table_files._load_table_schema(out)
    # int group key
    [res] = _pipeline_frames(
        out, table_files._GroupReducer(schema, "val_n", ["g_n"]))
    got = {
        (None if pd.isna(r["g_n"]) else int(r["g_n"]),):
            (int(r["n_rows"]), int(r["n_vals"]), int(r["sum_val"]))
        for _, r in res.iterrows()
    }
    want = {
        (None if k[0] is None or pd.isna(k[0]) else int(k[0]),): v
        for k, v in expect(["g"]).items()
    }
    assert got == want
    # string group key
    [res2] = _pipeline_frames(
        out, table_files._GroupReducer(schema, "val_n", ["s"]))
    got2 = {
        (r["s"],): (int(r["n_rows"]), int(r["n_vals"]), int(r["sum_val"]))
        for _, r in res2.iterrows()
    }
    # the pipeline's batches are typed: string groups arrive as str
    assert got2 == expect(["s"])
    # composite key
    [res3] = _pipeline_frames(
        out, table_files._GroupReducer(schema, "val_n", ["g_n", "s"]))
    got3 = {
        (None if pd.isna(r["g_n"]) else int(r["g_n"]), r["s"]):
            (int(r["n_rows"]), int(r["n_vals"]), int(r["sum_val"]))
        for _, r in res3.iterrows()
    }
    want3 = {
        (None if k[0] is None or pd.isna(k[0]) else int(k[0]), k[1]): v
        for k, v in expect(["g", "s"]).items()
    }
    assert got3 == want3
    # the property under test: nothing ever fetched a payload byte
    assert fetched and all(not f for f in fetched), fetched


def test_string_eq_scan_dictionary_pruning(spark, tmp_path):
    """String-equality pushdown: blocks whose dictionary sidecar lacks the
    literal are pruned from metadata alone; survivors match per-block dense
    codes; NULL never matches; projections ride along with NULLs
    preserved."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 8000
    # 'rare' appears only in one narrow band of rows -> hard pruning
    tag = [
        None if i % 13 == 0
        else ("rare" if 3000 <= i < 3100 else f"tag{i % 7}")
        for i in range(n)
    ]
    extra = [None if i % 5 == 0 else i * 2 for i in range(n)]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_s": pa.array(tag, pa.string()),
            "extra_n": pa.array(extra, pa.int32()),
        }
    )
    pq.write_table(tbl, f"{d}/part0.parquet", row_group_size=2000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "extra_n"], str_cols=["tag_s"],
        rows_per_block=512, num_tasks=2,
    )
    st = table_files.strdict_stats(out, "tag_s", "rare")
    assert st["blocks_matching"] <= 2 < st["blocks_total"]
    got = table_files.scan_table_files_eq(
        spark, out, "tag_s", "rare", columns=["k", "tag_s", "extra_n"]
    )
    rows = sorted(
        (r["k"], r["tag_s"], r["extra_n"]) for r in got.collect()
    )
    want = sorted(
        (i, "rare", extra[i]) for i in range(n) if tag[i] == "rare"
    )
    assert rows == want and len(rows) > 0
    assert any(r[2] is None for r in rows)  # projected NULLs preserved
    # a frequent value still returns exactly the SQL-equality rows
    got7 = table_files.scan_table_files_eq(spark, out, "tag_s", "tag3")
    assert sorted(r["k"] for r in got7.collect()) == [
        i for i in range(n) if tag[i] == "tag3"
    ]
    # absent literal: clean empty result, every block pruned
    assert table_files.scan_table_files_eq(
        spark, out, "tag_s", "nope"
    ).count() == 0
    assert table_files.strdict_stats(out, "tag_s", "nope") == {
        "blocks_total": st["blocks_total"], "blocks_matching": 0,
    }
    with pytest.raises(ValueError, match="string column"):
        table_files.scan_table_files_eq(spark, out, "extra_n", "x")
    with pytest.raises(ValueError, match="string column"):
        table_files.strdict_stats(out, "extra_n", "x")


def test_scan_carries_corpus_fsst_symbols(spark, tmp_path):
    """Regression: a dataset encoded with a corpus-trained FSST symbol
    table must scan correctly — the dictionary sidecars reference the
    external table, so the scan workers need it for BOTH the string
    projection gather and the equality membership pass (previously the
    range scan decoded sidecars without symbols and raised)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rlv.kernels import fsst

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    # long shared prefixes so the external-table FSST branch actually wins
    tag = [f"prefix_common_payload_{i % 50:04d}" for i in range(n)]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_s": pa.array(tag, pa.string()),
        }
    )
    pq.write_table(tbl, f"{d}/part0.parquet", row_group_size=1000)
    syms = fsst.train_symbols(b"prefix_common_payload_" * 300)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k"], str_cols=["tag_s"],
        rows_per_block=512, num_tasks=2, fsst_symbols=syms,
    )
    got = table_files.scan_table_files(
        spark, out, "k", 100, 299, columns=["k", "tag_s"]
    )
    rows = sorted((r["k"], r["tag_s"]) for r in got.collect())
    assert rows == [(i, tag[i]) for i in range(100, 300)]
    goteq = table_files.scan_table_files_eq(
        spark, out, "tag_s", "prefix_common_payload_0007"
    )
    assert sorted(r["k"] for r in goteq.collect()) == [
        i for i in range(n) if i % 50 == 7
    ]


def test_group_agg_pushdown_matches_sql(spark, tmp_path, monkeypatch):
    """Grouped aggregate pushdown: string-dict and int group keys, NULL
    group pooling, NULL value skipping, optional zone-map predicate, and
    the near-overflow exact-sum fallback — all checked against DuckDB's
    answer on the raw table."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    big = 2**62  # forces the per-segment exact-sum path for its group
    tag = [
        None if 2000 <= i < 2500  # a solid all-NULL-group stretch
        else f"tag{i % 5}"
        for i in range(n)
    ]
    val = [
        None if i % 11 == 0 else (big if i % 5 == 4 and i % 2 == 0 else i)
        for i in range(n)
    ]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "grp_s": pa.array(tag, pa.string()),
            "grp_i": pa.array([i % 4 if i % 9 else None for i in range(n)],
                              pa.int64()),
            "v": pa.array(val, pa.int64()),
        }
    )
    raw = f"{d}/part0.parquet"
    pq.write_table(tbl, raw, row_group_size=1500)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [raw], out,
        order_col="k", int_cols=["k", "grp_i", "v"], str_cols=["grp_s"],
        rows_per_block=512, num_tasks=2,
    )

    def check(got_df, sql):
        got = sorted(
            (
                (r[0], r["n_rows"], r["n_vals"],
                 None if r["sum_val"] is None else int(r["sum_val"]),
                 r["min_val"], r["max_val"])
                for r in got_df.collect()
            ),
            key=lambda t: (t[0] is not None, t[0]),
        )
        want = sorted(
            (
                (g, nr, nv, None if s is None else int(s), mn, mx)
                for g, nr, nv, s, mn, mx in duckdb.sql(sql).fetchall()
            ),
            key=lambda t: (t[0] is not None, t[0]),
        )
        assert got == want and len(want) > 0

    for _ in _dispatch_paths(monkeypatch):
        # string group, no predicate (includes the NULL group + big sums)
        check(
            table_files.agg_table_files_by(spark, out, "v", "grp_s"),
            f"SELECT grp_s, count(*), count(v), sum(v), min(v), max(v) "
            f"FROM read_parquet('{raw}') GROUP BY grp_s",
        )
        # int group with a range predicate (pruned/full/partial blocks)
        check(
            table_files.agg_table_files_by(
                spark, out, "v", "grp_i", pred_col="k", lo=1000, hi=4000
            ),
            f"SELECT grp_i, count(*), count(v), sum(v), min(v), max(v) "
            f"FROM read_parquet('{raw}') WHERE k BETWEEN 1000 AND 4000 "
            "GROUP BY grp_i",
        )
        # string group where the predicate prunes everything -> zero groups
        assert table_files.agg_table_files_by(
            spark, out, "v", "grp_s", pred_col="k", lo=10**9, hi=2 * 10**9
        ).count() == 0
        # group by the value column itself
        check(
            table_files.agg_table_files_by(spark, out, "grp_i", "grp_i"),
            f"SELECT grp_i, count(*), count(grp_i), sum(grp_i), min(grp_i), "
            f"max(grp_i) FROM read_parquet('{raw}') GROUP BY grp_i",
        )
        with pytest.raises(ValueError, match="unknown group column"):
            table_files.agg_table_files_by(spark, out, "v", "nope")
        with pytest.raises(ValueError, match="requires lo and hi"):
            table_files.agg_table_files_by(spark, out, "v", "grp_s",
                                           pred_col="k")
        with pytest.raises(ValueError, match="require pred_col"):
            table_files.agg_table_files_by(spark, out, "v", "grp_s", lo=1)


def test_group_agg_pushdown_survives_compaction(spark, tmp_path):
    """Grouped partials must stay correct when one blocks file holds
    several absorbed splits (per-segment keys, not per-ordinal)."""
    import glob
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    paths = []
    for p in range(4):
        sl = slice(p * 1000, (p + 1) * 1000)
        tbl = pa.table(
            {
                "k": pa.array(range(sl.start, sl.stop), pa.int64()),
                "s": pa.array(
                    [f"g{i % 3}" if i % 7 else None
                     for i in range(sl.start, sl.stop)],
                    pa.string(),
                ),
                "v": pa.array(
                    [i if i % 4 else None
                     for i in range(sl.start, sl.stop)],
                    pa.int64(),
                ),
            }
        )
        paths.append(f"{d}/part{p}.parquet")
        pq.write_table(tbl, paths[-1])
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, paths, out,
        order_col="k", int_cols=["k", "v"], str_cols=["s"],
        rows_per_block=256, num_tasks=4,
    )
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    assert len(glob.glob(f"{out}/blocks/*.parquet")) < 4
    got = sorted(
        (
            (r["s"], r["n_rows"], r["n_vals"],
             None if r["sum_val"] is None else int(r["sum_val"]),
             r["min_val"], r["max_val"])
            for r in table_files.agg_table_files_by(
                spark, out, "v", "s", pred_col="k", lo=500, hi=3300
            ).collect()
        ),
        key=lambda t: (t[0] is not None, t[0]),
    )
    want = sorted(
        (
            (g, nr, nv, None if s is None else int(s), mn, mx)
            for g, nr, nv, s, mn, mx in duckdb.sql(
                f"SELECT s, count(*), count(v), sum(v), min(v), max(v) "
                f"FROM read_parquet('{d}/part*.parquet') "
                "WHERE k BETWEEN 500 AND 3300 GROUP BY s"
            ).fetchall()
        ),
        key=lambda t: (t[0] is not None, t[0]),
    )
    assert got == want and len(want) == 4  # g0..g2 + NULL group


def test_distinct_from_dictionaries_only(spark, tmp_path):
    """SELECT DISTINCT on a string column must come entirely from the
    dictionary sidecars + n_nulls metadata: exact vs DuckDB (NULL row
    included), stable across compaction, and correct with a corpus FSST
    symbol table; int columns are refused."""
    import glob
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rlv.kernels import fsst

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 5000
    tag = [
        None if i % 17 == 0 else f"prefix_common_value_{i % 23:03d}"
        for i in range(n)
    ]
    paths = []
    for p in range(2):
        sl = slice(p * 2500, (p + 1) * 2500)
        tbl = pa.table(
            {
                "k": pa.array(range(sl.start, sl.stop), pa.int64()),
                "tag_s": pa.array(tag[sl], pa.string()),
            }
        )
        paths.append(f"{d}/part{p}.parquet")
        pq.write_table(tbl, paths[-1], row_group_size=1000)
    syms = fsst.train_symbols(b"prefix_common_value_" * 300)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, paths, out,
        order_col="k", int_cols=["k"], str_cols=["tag_s"],
        rows_per_block=512, num_tasks=2, fsst_symbols=syms,
    )

    def check():
        got = sorted(
            (r["tag_s"] for r in
             table_files.distinct_table_files(
                 spark, out, "tag_s").collect()),
            key=lambda v: (v is not None, v),
        )
        want = sorted(
            (r[0] for r in duckdb.sql(
                f"SELECT DISTINCT tag_s "
                f"FROM read_parquet('{d}/part*.parquet')"
            ).fetchall()),
            key=lambda v: (v is not None, v),
        )
        assert got == want and len(want) == 24  # 23 values + NULL

    check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    assert len(glob.glob(f"{out}/blocks/*.parquet")) < 2
    check()
    with pytest.raises(ValueError, match="not a column"):
        table_files.distinct_table_files(spark, out, "nope")


def test_int_distinct_pushdown(spark, tmp_path, monkeypatch):
    """SELECT DISTINCT on an int column pushes into the codecs
    (distinct_block_values): exact vs DuckDB incl. the NULL row, stable
    across compaction, and returned at the recorded source width."""
    import glob
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    # low-NDV with long runs -> RLE/DICT blocks exercise the no-expansion
    # paths; int16 source width must survive to the output type
    code = [
        None if i % 13 == 0 else (i // 250) % 19 - 7 for i in range(n)
    ]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "code_n": pa.array(code, pa.int16()),
        }
    )
    src = f"{d}/part0.parquet"
    pq.write_table(tbl, src, row_group_size=1500)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "code_n"],
        rows_per_block=512, num_tasks=2,
    )

    def check():
        df = table_files.distinct_table_files(spark, out, "code_n")
        assert dict(df.dtypes)["code_n"] == "smallint"
        got = sorted(
            (r["code_n"] for r in df.collect()),
            key=lambda v: (v is not None, v),
        )
        want = sorted(
            (r[0] for r in duckdb.sql(
                f"SELECT DISTINCT code_n FROM read_parquet('{src}')"
            ).fetchall()),
            key=lambda v: (v is not None, v),
        )
        assert got == want and None in want

    for _ in _dispatch_paths(monkeypatch):
        check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    assert len(glob.glob(f"{out}/blocks/*.parquet")) < 2
    for _ in _dispatch_paths(monkeypatch):
        check()
    # the unique order column distincts to itself
    ks = table_files.distinct_table_files(spark, out, "k")
    assert ks.count() == n


def test_distinct_without_nulls_has_no_null_row(spark, tmp_path):
    """A NULL-free column must NOT grow a NULL row (n_nulls metadata is the
    only NULL source)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    tbl = pa.table(
        {
            "k": pa.array(range(1000), pa.int64()),
            "s": pa.array([f"v{i % 4}" for i in range(1000)], pa.string()),
        }
    )
    pq.write_table(tbl, f"{d}/p.parquet")
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/p.parquet"], out,
        order_col="k", int_cols=["k"], str_cols=["s"],
        rows_per_block=256, num_tasks=1,
    )
    got = sorted(
        r["s"] for r in
        table_files.distinct_table_files(spark, out, "s").collect()
    )
    assert got == ["v0", "v1", "v2", "v3"]


def test_stats_from_metadata_only(spark, tmp_path):
    """ANALYZE must be exact vs DuckDB over a multi-file nullable table —
    counts, int zone-map min/max, string NDV/min/max, the all-NULL string
    column's ndv=0 — and stable across compaction."""
    import glob
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    paths = []
    for p in range(2):
        lo, hi = p * 2000, (p + 1) * 2000
        tbl = pa.table(
            {
                "k": pa.array(range(lo, hi), pa.int64()),
                "v_n": pa.array(
                    [None if i % 3 == 0 else (i * 7) % 1000 - 500
                     for i in range(lo, hi)],
                    pa.int64(),
                ),
                "tag_n": pa.array(
                    [None if i % 11 == 0 else f"t{i % 13:02d}"
                     for i in range(lo, hi)],
                    pa.string(),
                ),
                "dead_s": pa.array([None] * 2000, pa.string()),
            }
        )
        paths.append(f"{d}/part{p}.parquet")
        pq.write_table(tbl, paths[-1], row_group_size=800)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, paths, out,
        order_col="k", int_cols=["k", "v_n"],
        str_cols=["tag_n", "dead_s"],
        rows_per_block=256, num_tasks=2,
    )

    want = {}
    for c, kind in [("k", "int"), ("v_n", "int"),
                    ("tag_n", "str"), ("dead_s", "str")]:
        r = duckdb.sql(
            f"SELECT count(*), count(*) - count({c}), min({c}), max({c}), "
            f"count(DISTINCT {c}) "
            f"FROM read_parquet('{d}/part*.parquet')"
        ).fetchone()
        want[c] = (
            (r[0], r[1], r[2], r[3], None, None, None) if kind == "int"
            else (r[0], r[1], None, None, r[4], r[2], r[3])
        )

    def check():
        got = {
            r["col_name"]: (r["n_rows"], r["n_nulls"], r["min_int"],
                            r["max_int"], r["ndv"], r["min_str"],
                            r["max_str"])
            for r in table_files.stats_table_files(spark, out).collect()
        }
        assert got == want
        assert got["dead_s"][4] == 0  # all-NULL string: exact ndv, not NULL

    check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    assert len(glob.glob(f"{out}/blocks/*.parquet")) < 2
    check()


def test_topk_survivors_plan_prunes_clustered_blocks():
    """On a clustered column the zone-map plan must keep O(k/rows_per_block)
    blocks, and never a live block that could hold a top-k value."""
    import numpy as np

    from rlv.table_files import _topk_survivors

    nblocks = 100
    nvalid = np.full(nblocks, 100, np.int64)
    mn = np.arange(nblocks, dtype=np.int64) * 100
    mx = mn + 99
    n_runs = np.full(nblocks, 5, np.int64)
    n_runs[3] = 0  # an all-NULL block never survives
    keep = _topk_survivors(nvalid, n_runs, mn, mx, 150, ascending=True)
    # blocks 0-1 hold 200 >= 150 values, all <= 199 < block 2's min: tight
    assert keep[:2].all() and not keep[2:].any()
    keep = _topk_survivors(nvalid, n_runs, mn, mx, 150, ascending=False)
    assert keep[-2:].all() and not keep[:-2].any()
    # k >= total valid keeps every live block
    keep = _topk_survivors(nvalid, n_runs, mn, mx, 100 * nblocks,
                           ascending=True)
    assert keep.sum() == nblocks - 1 and not keep[3]


def test_topk_matches_sql_order_by_limit(spark, tmp_path, monkeypatch):
    """Top-k must equal SQL ORDER BY col, order_col LIMIT k (NULLs excluded)
    in both directions, on a tie-heavy nullable multi-file table, before and
    after compaction, on both dispatch paths; k past the row count returns
    every valid row."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    paths = []
    for p in range(2):
        lo, hi = p * 3000, (p + 1) * 3000
        tbl = pa.table(
            {
                "k": pa.array(range(lo, hi), pa.int64()),
                "v_n": pa.array(
                    [None if i % 5 == 2 else (i * 13) % 41 - 20
                     for i in range(lo, hi)],
                    pa.int64(),
                ),
            }
        )
        paths.append(f"{d}/part{p}.parquet")
        pq.write_table(tbl, paths[-1], row_group_size=1024)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, paths, out,
        order_col="k", int_cols=["k", "v_n"], str_cols=[],
        rows_per_block=512, num_tasks=2,
    )

    def check(kk, asc):
        got = [
            (r["k"], r["v_n"]) for r in
            table_files.topk_table_files(
                spark, out, "v_n", kk, ascending=asc).collect()
        ]
        direction = "ASC" if asc else "DESC"
        want = duckdb.sql(
            f"SELECT k, v_n FROM read_parquet('{d}/part*.parquet') "
            f"WHERE v_n IS NOT NULL "
            f"ORDER BY v_n {direction}, k LIMIT {kk}"
        ).fetchall()
        assert got == want

    for _ in _dispatch_paths(monkeypatch):
        for kk, asc in [(37, True), (37, False), (1, True), (100000, True)]:
            check(kk, asc)
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    for _ in _dispatch_paths(monkeypatch):
        check(37, True)
        check(37, False)
    with pytest.raises(ValueError, match="positive"):
        table_files.topk_table_files(spark, out, "v_n", 0)


def test_in_list_scan_matches_sql(spark, tmp_path):
    """IN-list membership scan must equal SQL WHERE col IN (...) — NULLs
    never match, absent literals contribute nothing, an all-absent list
    returns empty, a single literal agrees with the eq scan — with an
    int + string projection, before and after compaction."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    paths = []
    for p in range(2):
        lo, hi = p * 2500, (p + 1) * 2500
        tbl = pa.table(
            {
                "k": pa.array(range(lo, hi), pa.int64()),
                "tag_n": pa.array(
                    [None if i % 13 == 0 else f"w{i % 19:02d}"
                     for i in range(lo, hi)],
                    pa.string(),
                ),
                "v_n": pa.array(
                    [None if i % 7 == 4 else i * 3 for i in range(lo, hi)],
                    pa.int64(),
                ),
            }
        )
        paths.append(f"{d}/part{p}.parquet")
        pq.write_table(tbl, paths[-1], row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, paths, out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )

    def got_rows(vals):
        return sorted(
            (r["k"], r["tag_n"], r["v_n"]) for r in
            table_files.scan_table_files_in(
                spark, out, "tag_n", vals,
                columns=["k", "tag_n", "v_n"]).collect()
        )

    def check():
        lits = ["w03", "w11", "nosuch"]
        want = sorted(duckdb.sql(
            f"SELECT k, tag_n, v_n FROM read_parquet('{d}/part*.parquet') "
            "WHERE tag_n IN ('w03', 'w11', 'nosuch')"
        ).fetchall())
        assert got_rows(lits) == want and len(want) > 0
        assert got_rows(["nosuch", "none2"]) == []
        # single literal: IN degenerates to the eq scan exactly
        eq = sorted(
            (r["k"], r["tag_n"], r["v_n"]) for r in
            table_files.scan_table_files_eq(
                spark, out, "tag_n", "w05",
                columns=["k", "tag_n", "v_n"]).collect()
        )
        assert got_rows(["w05", "w05"]) == eq  # dupes collapse too

    check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    check()
    with pytest.raises(ValueError, match="at least one literal"):
        table_files.scan_table_files_in(spark, out, "tag_n", [])
    with pytest.raises(ValueError, match="string column"):
        table_files.scan_table_files_in(spark, out, "k", ["x"])


def test_str_range_and_prefix_scan_match_sql(spark, tmp_path):
    """String-range and LIKE-prefix pushdown must equal plain SQL BETWEEN /
    LIKE 'p%' (NULLs never match), before and after compaction; the
    membership plan must PRUNE blocks on a prefix-clustered column; the
    empty prefix is LIKE '%', an inverted range is SQL-empty, and int
    columns are refused."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 5000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            # clustered: sorted-by-k blocks each see ONE band value
            "band_n": pa.array(
                [None if i % 17 == 5 else f"band{i // 1250}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else i * 3 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"],
        str_cols=["tag_n", "band_n"],
        rows_per_block=512, num_tasks=2,
    )

    def check():
        got = sorted(
            (r["k"], r["tag_n"], r["v_n"]) for r in
            table_files.scan_table_files_str_range(
                spark, out, "tag_n", "w05", "w09",
                columns=["k", "tag_n", "v_n"]).collect()
        )
        want = sorted(duckdb.sql(
            f"SELECT k, tag_n, v_n FROM read_parquet('{src}') "
            "WHERE tag_n BETWEEN 'w05' AND 'w09'"
        ).fetchall())
        assert got == want and len(got) > 0
        gotp = sorted(
            (r["k"], r["band_n"]) for r in
            table_files.scan_table_files_prefix(
                spark, out, "band_n", "band1",
                columns=["k", "band_n"]).collect()
        )
        wantp = sorted(duckdb.sql(
            f"SELECT k, band_n FROM read_parquet('{src}') "
            "WHERE band_n LIKE 'band1%'"
        ).fetchall())
        assert gotp == wantp and len(gotp) > 0
        # inverted range is SQL-empty; empty prefix is LIKE '%'
        assert table_files.scan_table_files_str_range(
            spark, out, "tag_n", "z", "a").count() == 0
        n_all = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{src}') "
            "WHERE tag_n IS NOT NULL"
        ).fetchone()[0]
        assert table_files.scan_table_files_prefix(
            spark, out, "tag_n", "").count() == n_all

    check()

    # plan assertion: the clustered column's sidecars admit only the
    # blocks whose band matches — most blocks prune without payload IO
    from rlv import blocks as B
    from rlv.table_files import (_live_block_files, _read_dict_sidecar,
                                 _str_prefix_matcher)
    match = _str_prefix_matcher(b"band1")
    total = hits = 0
    for f in _live_block_files(out):
        sid = os.path.splitext(os.path.basename(f))[0]
        for _, blob in _read_dict_sidecar(f, sid, col="band_n").items():
            total += 1
            if match(B.decode_strings_arrow(blob, None)).size:
                hits += 1
    assert total >= 8 and hits <= total // 2

    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    check()
    with pytest.raises(ValueError, match="string column"):
        table_files.scan_table_files_str_range(spark, out, "k", "a", "b")
    with pytest.raises(ValueError, match="string column"):
        table_files.scan_table_files_prefix(spark, out, "v_n", "x")


def test_where_multi_predicate_scan_matches_sql(spark, tmp_path):
    """Conjunctive (AND) pushdown must equal plain SQL WHERE with every
    predicate kind stacked — int range × IN-list × prefix × second int
    range — with NULL semantics per predicate, before and after
    compaction; the eq fast path must hold inside a conjunction;
    contradictory ranges are SQL-empty; malformed predicates are
    refused."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "band_n": pa.array(
                [None if i % 17 == 5 else f"band{i // 1500}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"],
        str_cols=["tag_n", "band_n"],
        rows_per_block=512, num_tasks=2,
    )

    def check():
        got = sorted(
            (r["k"], r["v_n"], r["tag_n"], r["band_n"]) for r in
            table_files.scan_table_files_where(
                spark, out,
                [("between", "v_n", 100, 600),
                 ("in", "tag_n", ["w03", "w07", "w11"]),
                 ("prefix", "band_n", "band"),
                 ("between", "k", 500, 5500)],
                columns=["k", "v_n", "tag_n", "band_n"]).collect()
        )
        want = sorted(duckdb.sql(
            f"SELECT k, v_n, tag_n, band_n FROM read_parquet('{src}') "
            "WHERE v_n BETWEEN 100 AND 600 "
            "AND tag_n IN ('w03', 'w07', 'w11') "
            "AND band_n LIKE 'band%' AND k BETWEEN 500 AND 5500"
        ).fetchall())
        assert got == want and len(got) > 0
        # eq fast path inside a conjunction: kept rows ARE the literal
        gote = sorted(
            (r["k"], r["band_n"], r["tag_n"]) for r in
            table_files.scan_table_files_where(
                spark, out,
                [("eq", "band_n", "band2"),
                 ("str_between", "tag_n", "w02", "w06")],
                columns=["k", "band_n", "tag_n"]).collect()
        )
        wante = sorted(duckdb.sql(
            f"SELECT k, band_n, tag_n FROM read_parquet('{src}') "
            "WHERE band_n = 'band2' AND tag_n BETWEEN 'w02' AND 'w06'"
        ).fetchall())
        assert gote == wante and len(gote) > 0
        # contradictory ranges on one column: SQL-empty
        assert table_files.scan_table_files_where(
            spark, out,
            [("between", "v_n", 10, 20), ("between", "v_n", 500, 600)],
        ).count() == 0

    check()
    # default projection: order col + predicate cols, in order
    df = table_files.scan_table_files_where(
        spark, out, [("between", "v_n", 0, 50), ("eq", "band_n", "band2")]
    )
    assert df.columns == ["k", "v_n", "band_n"]

    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    check()
    with pytest.raises(ValueError, match="at least one predicate"):
        table_files.scan_table_files_where(spark, out, [])
    with pytest.raises(ValueError, match="unknown predicate kind"):
        table_files.scan_table_files_where(spark, out, [("gt", "v_n", 3)])
    with pytest.raises(ValueError, match="int column"):
        table_files.scan_table_files_where(
            spark, out, [("between", "tag_n", 0, 1)])
    with pytest.raises(ValueError, match="string column"):
        table_files.scan_table_files_where(
            spark, out, [("prefix", "v_n", "x")])


def test_agg_where_mixed_predicates_matches_sql(spark, tmp_path):
    """Conjunctive aggregate pushdown must equal plain SQL aggregate under
    stacked predicates of every kind — including a whole-dictionary match
    on a NULLABLE string column (class stays partial: only NULLs drop) and
    an all-pruned conjunction returning the SQL empty aggregate — before
    and after compaction."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "band_n": pa.array(
                [None if i % 17 == 5 else f"band{i // 1500}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"],
        str_cols=["tag_n", "band_n"],
        rows_per_block=512, num_tasks=2,
    )

    def check():
        # 'band' prefix whole-dict-matches every block (NULLs still drop)
        got = table_files.agg_table_files_where(
            spark, out, "v_n",
            [("between", "k", 500, 5500),
             ("in", "tag_n", ["w03", "w07", "w11"]),
             ("prefix", "band_n", "band")],
        ).collect()[0]
        want = duckdb.sql(
            f"SELECT count(*), count(v_n), sum(v_n), min(v_n), max(v_n) "
            f"FROM read_parquet('{src}') "
            "WHERE k BETWEEN 500 AND 5500 "
            "AND tag_n IN ('w03', 'w07', 'w11') AND band_n LIKE 'band%'"
        ).fetchone()
        assert (got["n_rows"], got["n_vals"], int(got["sum_val"]),
                got["min_val"], got["max_val"]) == (
            want[0], want[1], int(want[2]), want[3], want[4])
        assert got["n_rows"] > 0
        # all-pruned conjunction: the SQL empty aggregate
        empty = table_files.agg_table_files_where(
            spark, out, "v_n", [("eq", "tag_n", "nosuch")]
        ).collect()[0]
        assert (empty["n_rows"], empty["n_vals"], empty["sum_val"],
                empty["min_val"], empty["max_val"]) == (0, 0, None, None,
                                                        None)

    check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    check()
    with pytest.raises(ValueError, match="int column"):
        table_files.agg_table_files_where(
            spark, out, "tag_n", [("between", "k", 0, 10)])


def test_group_agg_with_conjunctive_preds(spark, tmp_path):
    """GROUP BY pushdown under a predicate CONJUNCTION (int range ×
    IN-list) must equal plain SQL GROUP BY, NULL group keys pooled; the
    legacy pred_col form and the preds form are mutually exclusive."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "band_n": pa.array(
                [None if i % 17 == 5 else f"band{i // 1500}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"],
        str_cols=["tag_n", "band_n"],
        rows_per_block=512, num_tasks=2,
    )
    got = {
        r["band_n"]: (r["n_rows"], r["n_vals"], int(r["sum_val"])
                      if r["sum_val"] is not None else None,
                      r["min_val"], r["max_val"])
        for r in table_files.agg_table_files_by(
            spark, out, "v_n", "band_n",
            preds=[("between", "k", 500, 5500),
                   ("in", "tag_n", ["w03", "w07", "w11"])],
        ).collect()
    }
    want = {
        g: (nr, nv, int(s) if s is not None else None, mn, mx)
        for g, nr, nv, s, mn, mx in duckdb.sql(
            f"SELECT band_n, count(*), count(v_n), sum(v_n), "
            f"min(v_n), max(v_n) FROM read_parquet('{src}') "
            "WHERE k BETWEEN 500 AND 5500 "
            "AND tag_n IN ('w03', 'w07', 'w11') GROUP BY band_n"
        ).fetchall()
    }
    assert got == want and len(got) > 1 and None in got
    with pytest.raises(ValueError, match="not both"):
        table_files.agg_table_files_by(
            spark, out, "v_n", "band_n", pred_col="k", lo=0, hi=9,
            preds=[("between", "k", 0, 9)])


def test_ctas_table_files(spark, tmp_path):
    """CTAS must materialize exactly the predicate's rows as a NEW encoded
    dataset: lineage verify green, a full scan of the child equals plain
    SQL WHERE on the source, NULLs survive the round trip; the clustered
    variant re-keys on the cluster column and improves its pruning; a
    projection dropping the order column without cluster_by is refused."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    src_enc = str(tmp_path / "src_enc")
    table_files.encode_table_files(
        spark, [src], src_enc,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )

    dst = str(tmp_path / "dst")
    res = table_files.ctas_table_files(
        spark, src_enc, dst,
        preds=[("in", "tag_n", ["w03", "w07", "w11"])],
        columns=["k", "tag_n", "v_n"],
        rows_per_block=512,
    )
    assert res["tokens"] > 0
    chk = table_files.verify_table_files(spark, dst)
    assert chk["mismatches"] == 0
    got = sorted(
        (r["k"], r["tag_n"], r["v_n"]) for r in
        table_files.scan_table_files(
            spark, dst, "k", 0, n, columns=["k", "tag_n", "v_n"]
        ).collect()
    )
    want = sorted(duckdb.sql(
        f"SELECT k, tag_n, v_n FROM read_parquet('{src}') "
        "WHERE tag_n IN ('w03', 'w07', 'w11')"
    ).fetchall())
    assert got == want and len(got) > 0

    # clustered CTAS: child is re-keyed on the cluster column and its
    # zone maps actually prune
    dst2 = str(tmp_path / "dst2")
    table_files.ctas_table_files(
        spark, src_enc, dst2,
        preds=[("in", "tag_n", ["w03", "w07", "w11"])],
        columns=["k", "tag_n", "v_n"],
        cluster_by="v_n", rows_per_block=256,
    )
    got2 = sorted(
        (r["k"], r["v_n"]) for r in
        table_files.scan_table_files(
            spark, dst2, "v_n", 100, 299, columns=["k", "v_n"]
        ).collect()
    )
    want2 = sorted(duckdb.sql(
        f"SELECT k, v_n FROM read_parquet('{src}') "
        "WHERE tag_n IN ('w03', 'w07', 'w11') "
        "AND v_n BETWEEN 100 AND 299"
    ).fetchall())
    assert got2 == want2 and len(got2) > 0
    zs = table_files.zonemap_stats(dst2, "v_n", 100, 299)
    assert zs["blocks_matching"] <= max(2, zs["blocks_total"] // 2)

    with pytest.raises(ValueError, match="order column"):
        table_files.ctas_table_files(
            spark, src_enc, str(tmp_path / "bad"),
            preds=[("eq", "tag_n", "w03")], columns=["tag_n", "v_n"])


def test_distinct_with_predicates_matches_sql(spark, tmp_path, monkeypatch):
    """SELECT DISTINCT col WHERE <conjunction> must equal plain SQL on
    BOTH column types — full blocks keep the metadata-only shape, partial
    blocks decode and mask, the NULL row appears iff a matching row has a
    NULL value — before and after compaction; an all-pruned conjunction is
    empty."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 50 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )
    preds = [("between", "k", 1000, 5000), ("between", "v_n", 10, 30)]

    def check():
        gots = sorted(
            (r["tag_n"] is None, r["tag_n"]) for r in
            table_files.distinct_table_files(
                spark, out, "tag_n", preds=preds).collect()
        )
        wants = sorted(
            (g is None, g) for (g,) in duckdb.sql(
                f"SELECT DISTINCT tag_n FROM read_parquet('{src}') "
                "WHERE k BETWEEN 1000 AND 5000 AND v_n BETWEEN 10 AND 30"
            ).fetchall()
        )
        assert gots == wants and len(gots) > 1
        goti = sorted(
            (r["v_n"] is None, r["v_n"]) for r in
            table_files.distinct_table_files(
                spark, out, "v_n",
                preds=[("in", "tag_n", ["w03", "w07"]),
                       ("between", "k", 0, 5999)]).collect()
        )
        wanti = sorted(
            (g is None, g) for (g,) in duckdb.sql(
                f"SELECT DISTINCT v_n FROM read_parquet('{src}') "
                "WHERE tag_n IN ('w03', 'w07')"
            ).fetchall()
        )
        assert goti == wanti and (True, None) in goti
        assert table_files.distinct_table_files(
            spark, out, "tag_n", preds=[("eq", "tag_n", "nosuch")]
        ).count() == 0

    for _ in _dispatch_paths(monkeypatch):
        check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    for _ in _dispatch_paths(monkeypatch):
        check()


def test_semijoin_scan_pushdown(spark, tmp_path):
    """DPP-style semi-join pushdown must equal SQL WHERE col IN (SELECT key
    FROM dim) on BOTH key types: string keys via the dictionary IN-list
    scan, int keys via the zone-map envelope + broadcast left-semi finish.
    NULL dim keys never match, an empty dim returns empty without IO, and
    an over-cardinality dim is refused."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 50 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )

    # string keys: dim with a NULL key and an absent key
    dim_s = spark.createDataFrame(
        [("w03",), ("w11",), ("nosuch",), (None,)], "key string"
    )
    got = sorted(
        (r["k"], r["tag_n"], r["v_n"]) for r in
        table_files.semijoin_scan_table_files(
            spark, out, "tag_n", dim_s, dim_key="key",
            columns=["k", "tag_n", "v_n"]).collect()
    )
    want = sorted(duckdb.sql(
        f"SELECT k, tag_n, v_n FROM read_parquet('{src}') "
        "WHERE tag_n IN ('w03', 'w11')"
    ).fetchall())
    assert got == want and len(got) > 0

    # int keys: envelope scan + exact semi join (gaps inside [min, max]
    # must NOT leak through), projection omitting the key column
    dim_i = spark.createDataFrame([(3,), (17,), (44,)], "vv bigint")
    goti = sorted(
        (r["k"], r["tag_n"]) for r in
        table_files.semijoin_scan_table_files(
            spark, out, "v_n", dim_i, dim_key="vv",
            columns=["k", "tag_n"]).collect()
    )
    wanti = sorted(duckdb.sql(
        f"SELECT k, tag_n FROM read_parquet('{src}') "
        "WHERE v_n IN (3, 17, 44)"
    ).fetchall())
    assert goti == wanti and len(goti) > 0

    # empty dim: empty result, right shape
    empty = table_files.semijoin_scan_table_files(
        spark, out, "tag_n", dim_s.where("key = 'zzz'"), dim_key="key")
    assert empty.count() == 0 and empty.columns == ["k", "tag_n"]

    with pytest.raises(ValueError, match="max_keys"):
        table_files.semijoin_scan_table_files(
            spark, out, "v_n", dim_i, dim_key="vv", max_keys=2)
    with pytest.raises(ValueError, match="not a column"):
        table_files.semijoin_scan_table_files(
            spark, out, "missing", dim_i, dim_key="vv")


def test_cluster_encode_improves_pruning(spark, tmp_path):
    """CLUSTER BY write path: a value-scattered column (zone maps useless —
    every block spans the whole range) must, after cluster-encode, prune to
    O(selectivity) of the blocks; the scan result must equal plain SQL
    WHERE either way (NULLs preserved); a used out_dir and colliding
    column names are refused."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 8000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            # scattered: (i*37) % 1000 sweeps the whole range in every block
            "v_n": pa.array(
                [None if i % 11 == 7 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)

    plain = str(tmp_path / "plain")
    table_files.encode_table_files(
        spark, [src], plain,
        order_col="k", int_cols=["k", "v_n"],
        rows_per_block=512, num_tasks=2,
    )
    clus = str(tmp_path / "clustered")
    res = table_files.cluster_encode_table_files(
        spark, [src], clus, cluster_by="v_n",
        int_cols=["k", "v_n"], rows_per_block=512, num_tasks=4,
    )
    assert res["tokens"] > 0

    want = sorted(duckdb.sql(
        f"SELECT k, v_n FROM read_parquet('{src}') "
        "WHERE v_n BETWEEN 100 AND 199"
    ).fetchall())
    for enc in (plain, clus):
        got = sorted(
            (r["k"], r["v_n"]) for r in
            table_files.scan_table_files(
                spark, enc, "v_n", 100, 199,
                columns=["k", "v_n"]).collect()
        )
        assert got == want and len(got) > 0

    sp = table_files.zonemap_stats(plain, "v_n", 100, 199)
    sc = table_files.zonemap_stats(clus, "v_n", 100, 199)
    # scattered layout: every block matches; clustered: ~10% selectivity
    assert sp["blocks_matching"] == sp["blocks_total"]
    assert sc["blocks_matching"] <= sc["blocks_total"] // 3

    with pytest.raises(ValueError, match="fresh out_dir"):
        table_files.cluster_encode_table_files(
            spark, [src], clus, cluster_by="v_n", int_cols=["k", "v_n"])
    with pytest.raises(ValueError, match="must not collide"):
        table_files.cluster_encode_table_files(
            spark, [src], str(tmp_path / "x"), cluster_by="v_n",
            int_cols=["k", "v_n"], order_col="k")
    with pytest.raises(ValueError, match="cluster_by"):
        table_files.cluster_encode_table_files(
            spark, [src], str(tmp_path / "y"), cluster_by="zz",
            int_cols=["k", "v_n"])


def test_topk_with_predicates_matches_sql(spark, tmp_path, monkeypatch):
    """TOP-K under a predicate conjunction must equal SQL WHERE ... ORDER
    BY LIMIT in both directions (order-col tie-break makes the row set
    deterministic), including when the filter leaves fewer than k rows;
    the pure plan must stay conservative when full-block mass cannot
    reach k."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 5000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 200 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )
    preds = [("in", "tag_n", ["w03", "w07", "w11"]),
             ("between", "k", 200, 4800)]
    for _ in _dispatch_paths(monkeypatch):
        for asc in (True, False):
            got = [
                (r["k"], r["v_n"], r["tag_n"]) for r in
                table_files.topk_table_files(
                    spark, out, "v_n", 20, ascending=asc,
                    columns=["k", "v_n", "tag_n"], preds=preds,
                ).collect()
            ]
            direction = "" if asc else "DESC"
            want = duckdb.sql(
                f"SELECT k, v_n, tag_n FROM read_parquet('{src}') "
                "WHERE tag_n IN ('w03', 'w07', 'w11') "
                "AND k BETWEEN 200 AND 4800 AND v_n IS NOT NULL "
                f"ORDER BY v_n {direction}, k LIMIT 20"
            ).fetchall()
            assert sorted(got) == sorted(want) and len(want) == 20
        # filter leaves fewer than k rows: all of them come back
        tiny = [("eq", "tag_n", "w03"), ("between", "v_n", 0, 3)]
        got = [
            (r["k"], r["v_n"]) for r in
            table_files.topk_table_files(
                spark, out, "v_n", 1000, ascending=True,
                columns=["k", "v_n"], preds=tiny,
            ).collect()
        ]
        want = duckdb.sql(
            f"SELECT k, v_n FROM read_parquet('{src}') "
            "WHERE tag_n = 'w03' AND v_n BETWEEN 0 AND 3"
        ).fetchall()
        assert sorted(got) == sorted(want) and 0 < len(want) < 1000


def test_int_in_pred_classification_and_scan(spark, tmp_path):
    """int_in predicates: zone maps must prune blocks no literal falls
    inside (sparse literals on a clustered column skip the gaps), constant
    blocks whose value is a literal full-match, masks are exact, and the
    predicate composes with aggregates and DISTINCT."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rlv.table_files import _int_pred_class

    # pure classification: pruned / partial / full
    p = {"lo": 10, "hi": 90,
         "vals": __import__("numpy").array([10, 50, 90], "int64")}
    assert _int_pred_class(p, 512, 0, 1, 20, 40) is None    # gap 20..40
    assert _int_pred_class(p, 512, 0, 1, 40, 60) == "partial"
    assert _int_pred_class(p, 512, 0, 1, 50, 50) == "full"  # constant lit.
    assert _int_pred_class(p, 512, 1, 1, 50, 50) == "partial"  # has NULLs
    assert _int_pred_class(p, 512, 0, 0, 50, 50) is None    # all-NULL blk
    assert _int_pred_class(p, 512, 0, 1, 91, 99) is None    # off envelope

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 5000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            # clustered: block-sized plateaus, so sparse literals prune
            "c_n": pa.array(
                [None if i % 11 == 3 else i // 500 for i in range(n)],
                pa.int64(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 13) % 100 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "c_n", "v_n"],
        rows_per_block=512, num_tasks=2,
    )
    got = sorted(
        (r["k"], r["c_n"], r["v_n"]) for r in
        table_files.scan_table_files_where(
            spark, out, [("int_in", "c_n", [2, 7])],
            columns=["k", "c_n", "v_n"]).collect()
    )
    want = sorted(duckdb.sql(
        f"SELECT k, c_n, v_n FROM read_parquet('{src}') "
        "WHERE c_n IN (2, 7)"
    ).fetchall())
    assert got == want and len(got) > 0
    # composes with the aggregate and DISTINCT surfaces
    agg = table_files.agg_table_files_where(
        spark, out, "v_n", [("int_in", "c_n", [2, 7])]
    ).collect()[0]
    wagg = duckdb.sql(
        f"SELECT count(*), count(v_n), sum(v_n) FROM read_parquet('{src}')"
        " WHERE c_n IN (2, 7)"
    ).fetchone()
    assert (agg["n_rows"], agg["n_vals"], int(agg["sum_val"])) == (
        wagg[0], wagg[1], int(wagg[2]))
    gd = sorted(
        r["v_n"] for r in table_files.distinct_table_files(
            spark, out, "v_n",
            preds=[("int_in", "c_n", [2])]).collect()
        if r["v_n"] is not None
    )
    wd = sorted(g for (g,) in duckdb.sql(
        f"SELECT DISTINCT v_n FROM read_parquet('{src}') WHERE c_n = 2"
    ).fetchall() if g is not None)
    assert gd == wd
    with pytest.raises(ValueError, match="at least one literal"):
        table_files.scan_table_files_where(
            spark, out, [("int_in", "c_n", [])])


def test_topk_survivors_int64_min_block_descending():
    """Descending plan must not wrap when a block's min_val is int64 min
    (negating int64 min is UB-ish in numpy: it stays negative and would
    sort that block first, inflating the bound and wrongly pruning)."""
    import numpy as np

    from rlv.table_files import _topk_survivors

    nvalid = np.array([50, 30, 100], np.int64)
    mn = np.array([-(2**63), 500, 100], np.int64)
    mx = np.array([-(2**63) + 10, 600, 200], np.int64)
    n_runs = np.ones(3, np.int64)
    keep = _topk_survivors(nvalid, n_runs, mn, mx, 60, ascending=False)
    # blocks B(500..600, 30 vals) + C(100..200, 100 vals) give 60 values
    # >= 100; A tops out at -2**63+10 and must prune
    assert list(keep) == [False, True, True]


def test_topk_projection_without_sort_column(spark, tmp_path, monkeypatch):
    """A projection omitting the sort column must still work (the sort
    column rides along internally and drops from the result), on both
    dispatch paths."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    tbl = pa.table(
        {
            "k": pa.array(range(1000), pa.int64()),
            "v": pa.array([(i * 37) % 501 for i in range(1000)], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{d}/p.parquet")
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/p.parquet"], out,
        order_col="k", int_cols=["k", "v"], str_cols=[],
        rows_per_block=256, num_tasks=1,
    )
    want = {
        r[0] for r in duckdb.sql(
            f"SELECT k FROM read_parquet('{d}/p.parquet') "
            "ORDER BY v, k LIMIT 10"
        ).fetchall()
    }
    for path in _dispatch_paths(monkeypatch):
        got = table_files.topk_table_files(
            spark, out, "v", 10, ascending=True, columns=["k"]
        )
        assert got.columns == ["k"]
        assert {r["k"] for r in got.collect()} == want, path


def test_null_and_negated_predicates_match_sql(spark, tmp_path):
    """The validity (`isnull`/`notnull`) and negated (`ne`, `not_in`,
    `not_prefix`, `not_between`) predicate kinds: classification from
    metadata alone must be exact (unit table), every kind must equal
    plain SQL on a nullable fixture across the scan / aggregate / group /
    DISTINCT / top-k surfaces, results must survive compaction, and the
    error surface must refuse bad arity and unknown columns."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rlv.table_files import _int_pred_class

    # pure classification — validity predicates resolve from (nv, nn)
    isn = {"kind": "valid", "want_null": True}
    notn = {"kind": "valid", "want_null": False}
    assert _int_pred_class(isn, 512, 0, 9, 0, 9) is None       # no NULLs
    assert _int_pred_class(isn, 512, 512, 0, 0, 0) == "full"   # all NULL
    assert _int_pred_class(isn, 512, 7, 9, 0, 9) == "partial"
    assert _int_pred_class(notn, 512, 512, 0, 0, 0) is None
    assert _int_pred_class(notn, 512, 0, 9, 0, 9) == "full"
    assert _int_pred_class(notn, 512, 7, 9, 0, 9) == "partial"
    # negated range mirrors the zone-map classification
    nb = {"kind": "range", "lo": 10, "hi": 90, "neg": True}
    assert _int_pred_class(nb, 512, 0, 9, 20, 80) is None      # nested
    assert _int_pred_class(nb, 512, 0, 9, 91, 99) == "full"    # disjoint
    assert _int_pred_class(nb, 512, 1, 9, 91, 99) == "partial"  # NULLs
    assert _int_pred_class(nb, 512, 0, 9, 5, 20) == "partial"  # straddles
    assert _int_pred_class(nb, 512, 0, 0, 5, 20) is None       # all-NULL

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )

    cases = [
        ([("isnull", "v_n")], "v_n IS NULL"),
        ([("isnull", "tag_n")], "tag_n IS NULL"),
        ([("notnull", "v_n")], "v_n IS NOT NULL"),
        ([("ne", "tag_n", "w03")], "tag_n <> 'w03'"),
        ([("not_in", "tag_n", ["w03", "w07"])],
         "tag_n NOT IN ('w03','w07')"),
        ([("not_prefix", "tag_n", "w0")], "tag_n NOT LIKE 'w0%'"),
        ([("not_between", "v_n", 100, 800)], "v_n NOT BETWEEN 100 AND 800"),
        ([("not_between", "v_n", 100, 800), ("isnull", "tag_n")],
         "v_n NOT BETWEEN 100 AND 800 AND tag_n IS NULL"),
        ([("notnull", "v_n"), ("ne", "tag_n", "w05"),
          ("between", "k", 500, 5500)],
         "v_n IS NOT NULL AND tag_n <> 'w05' AND k BETWEEN 500 AND 5500"),
        ([("isnull", "v_n"), ("prefix", "tag_n", "w1")],
         "v_n IS NULL AND tag_n LIKE 'w1%'"),
    ]

    def check():
        for preds, where in cases:
            got = sorted(
                (r["k"], r["v_n"], r["tag_n"]) for r in
                table_files.scan_table_files_where(
                    spark, out, preds,
                    columns=["k", "v_n", "tag_n"]).collect()
            )
            want = sorted(duckdb.sql(
                f"SELECT k, v_n, tag_n FROM read_parquet('{src}') "
                f"WHERE {where}"
            ).fetchall())
            assert got == want and len(got) > 0, (preds, where)
        # aggregate surface
        agg = table_files.agg_table_files_where(
            spark, out, "v_n",
            [("notnull", "tag_n"), ("not_between", "k", 1000, 5000)],
        ).collect()[0]
        w = duckdb.sql(
            "SELECT count(*), count(v_n), sum(v_n), min(v_n), max(v_n) "
            f"FROM read_parquet('{src}') "
            "WHERE tag_n IS NOT NULL AND k NOT BETWEEN 1000 AND 5000"
        ).fetchone()
        assert (agg["n_rows"], agg["n_vals"], int(agg["sum_val"]),
                agg["min_val"], agg["max_val"]) == (
            w[0], w[1], int(w[2]), w[3], w[4])
        # group surface
        g = sorted(
            (r["tag_n"], r["n_rows"], int(r["sum_val"])) for r in
            table_files.agg_table_files_by(
                spark, out, "v_n", "tag_n",
                preds=[("notnull", "v_n"), ("not_prefix", "tag_n", "w1")],
            ).collect()
        )
        wg = sorted((t, c, int(s)) for t, c, s in duckdb.sql(
            f"SELECT tag_n, count(*), sum(v_n) FROM read_parquet('{src}') "
            "WHERE v_n IS NOT NULL AND tag_n NOT LIKE 'w1%' GROUP BY tag_n"
        ).fetchall())
        assert g == wg and len(g) > 0
        # DISTINCT surface: the NULL row appears iff a matching row is NULL
        dd = sorted(
            ("~n~" if r["tag_n"] is None else r["tag_n"]) for r in
            table_files.distinct_table_files(
                spark, out, "tag_n", preds=[("isnull", "v_n")]).collect()
        )
        wd = sorted(("~n~" if t is None else t) for (t,) in duckdb.sql(
            f"SELECT DISTINCT tag_n FROM read_parquet('{src}') "
            "WHERE v_n IS NULL"
        ).fetchall())
        assert dd == wd
        # top-k surface
        tk = [(r["k"], r["v_n"]) for r in table_files.topk_table_files(
            spark, out, "v_n", 10, ascending=False,
            columns=["k", "v_n"],
            preds=[("ne", "tag_n", "w03"), ("notnull", "v_n")],
        ).collect()]
        wt = [tuple(x) for x in duckdb.sql(
            f"SELECT k, v_n FROM read_parquet('{src}') "
            "WHERE tag_n <> 'w03' AND v_n IS NOT NULL "
            "ORDER BY v_n DESC, k LIMIT 10"
        ).fetchall()]
        assert tk == wt

    check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    check()

    # error surface: bad arity, unknown column, unknown kind
    with pytest.raises(ValueError, match="takes 1 argument"):
        table_files.scan_table_files_where(
            spark, out, [("isnull", "v_n", 3)])
    with pytest.raises(ValueError, match="not a column"):
        table_files.scan_table_files_where(spark, out, [("isnull", "nope")])
    with pytest.raises(ValueError, match="unknown predicate kind"):
        table_files.scan_table_files_where(spark, out, [("gt", "v_n", 3)])


def test_or_predicate_pushdown_matches_sql(spark, tmp_path):
    """OR disjunctions (`("or", [leaf, ...])`): a node's block survivors
    are the UNION of its leaf survivors and its row mask the union of
    leaf masks, while the file still intersects across top-level
    predicates — checked vs plain SQL on every surface, with cross-type
    branches (int × string × validity), results stable under compaction,
    and nested OR refused."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )

    cases = [
        # cross-type: int range OR string eq
        ([("or", [("between", "v_n", 0, 50), ("eq", "tag_n", "w03")])],
         "(v_n BETWEEN 0 AND 50 OR tag_n = 'w03')"),
        # validity branch
        ([("or", [("isnull", "v_n"), ("between", "v_n", 900, 999)])],
         "(v_n IS NULL OR v_n BETWEEN 900 AND 999)"),
        # OR node ANDed with a top-level predicate
        ([("or", [("between", "v_n", 0, 100),
                  ("in", "tag_n", ["w05", "w09"])]),
          ("between", "k", 500, 5500)],
         "(v_n BETWEEN 0 AND 100 OR tag_n IN ('w05','w09')) "
         "AND k BETWEEN 500 AND 5500"),
        # two OR nodes ANDed
        ([("or", [("between", "v_n", 0, 300), ("isnull", "v_n")]),
          ("or", [("prefix", "tag_n", "w0"), ("isnull", "tag_n")])],
         "(v_n BETWEEN 0 AND 300 OR v_n IS NULL) "
         "AND (tag_n LIKE 'w0%' OR tag_n IS NULL)"),
        # negated leaf inside a node
        ([("or", [("not_between", "v_n", 0, 899),
                  ("eq", "tag_n", "w01")])],
         "(v_n NOT BETWEEN 0 AND 899 OR tag_n = 'w01')"),
    ]

    def check():
        for preds, where in cases:
            got = sorted(
                (r["k"], r["v_n"], r["tag_n"]) for r in
                table_files.scan_table_files_where(
                    spark, out, preds,
                    columns=["k", "v_n", "tag_n"]).collect()
            )
            want = sorted(duckdb.sql(
                f"SELECT k, v_n, tag_n FROM read_parquet('{src}') "
                f"WHERE {where}"
            ).fetchall())
            assert got == want and len(got) > 0, (preds, where)
        # aggregate
        agg = table_files.agg_table_files_where(
            spark, out, "v_n",
            [("or", [("between", "k", 0, 1000), ("eq", "tag_n", "w07")])],
        ).collect()[0]
        w = duckdb.sql(
            "SELECT count(*), count(v_n), sum(v_n), min(v_n), max(v_n) "
            f"FROM read_parquet('{src}') "
            "WHERE (k BETWEEN 0 AND 1000 OR tag_n = 'w07')"
        ).fetchone()
        assert (agg["n_rows"], agg["n_vals"], int(agg["sum_val"]),
                agg["min_val"], agg["max_val"]) == (
            w[0], w[1], int(w[2]), w[3], w[4])
        # group (NULL keys pool)
        key = lambda t: ("" if t[0] is None else "z" + t[0],) + t[1:]
        g = sorted(
            ((r["tag_n"], r["n_rows"], int(r["sum_val"])) for r in
             table_files.agg_table_files_by(
                 spark, out, "v_n", "tag_n",
                 preds=[("or", [("between", "v_n", 0, 100),
                                ("not_between", "v_n", 0, 899)])],
             ).collect()), key=key)
        wg = sorted(
            ((t, c, int(s)) for t, c, s in duckdb.sql(
                f"SELECT tag_n, count(*), sum(v_n) "
                f"FROM read_parquet('{src}') "
                "WHERE (v_n BETWEEN 0 AND 100 OR v_n NOT BETWEEN 0 AND "
                "899) GROUP BY tag_n"
            ).fetchall()), key=key)
        assert g == wg and len(g) > 0
        # DISTINCT
        dd = sorted(
            ("~n~" if r["tag_n"] is None else r["tag_n"]) for r in
            table_files.distinct_table_files(
                spark, out, "tag_n",
                preds=[("or", [("isnull", "v_n"),
                               ("between", "v_n", 990, 999)])]).collect()
        )
        wd = sorted(("~n~" if t is None else t) for (t,) in duckdb.sql(
            f"SELECT DISTINCT tag_n FROM read_parquet('{src}') "
            "WHERE (v_n IS NULL OR v_n BETWEEN 990 AND 999)"
        ).fetchall())
        assert dd == wd
        # top-k
        tk = [(r["k"], r["v_n"]) for r in table_files.topk_table_files(
            spark, out, "v_n", 12, ascending=True,
            columns=["k", "v_n"],
            preds=[("or", [("eq", "tag_n", "w02"),
                           ("eq", "tag_n", "w04")])],
        ).collect()]
        wt = [tuple(x) for x in duckdb.sql(
            f"SELECT k, v_n FROM read_parquet('{src}') "
            "WHERE (tag_n = 'w02' OR tag_n = 'w04') "
            "ORDER BY v_n, k LIMIT 12"
        ).fetchall()]
        assert tk == wt

    check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    check()

    # single-branch OR degenerates to the leaf; nested OR refused
    got1 = table_files.scan_table_files_where(
        spark, out, [("or", [("between", "v_n", 0, 50)])]).count()
    want1 = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{src}') "
        "WHERE v_n BETWEEN 0 AND 50"
    ).fetchone()[0]
    assert got1 == want1
    with pytest.raises(ValueError, match="nested OR"):
        table_files.scan_table_files_where(
            spark, out,
            [("or", [("or", [("between", "v_n", 0, 1),
                             ("between", "v_n", 5, 6)]),
                     ("eq", "tag_n", "w01")])])
    with pytest.raises(ValueError, match="one list of branch"):
        table_files.scan_table_files_where(spark, out, [("or", "tag_n")])
    with pytest.raises(ValueError, match="malformed predicate"):
        table_files.scan_table_files_where(spark, out, [("or",)])


def test_ndv_pushdown_matches_sql(spark, tmp_path):
    """COUNT(DISTINCT) pushdown: exact NDV + null_seen on both column
    types, under predicates (including an all-pruned conjunction -> 0 /
    false), vs plain SQL."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 300
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )

    for col, where, preds in [
        ("tag_n", "1=1", None),
        ("v_n", "1=1", None),
        ("tag_n", "v_n BETWEEN 0 AND 100",
         [("between", "v_n", 0, 100)]),
        ("v_n", "tag_n LIKE 'w1%' AND k BETWEEN 100 AND 3000",
         [("prefix", "tag_n", "w1"), ("between", "k", 100, 3000)]),
        ("tag_n", "v_n BETWEEN 900 AND 999",
         [("between", "v_n", 900, 999)]),  # all pruned -> 0 / false
    ]:
        r = table_files.ndv_table_files(
            spark, out, col, preds=preds).collect()[0]
        w = duckdb.sql(
            f"SELECT count(DISTINCT {col}), count(*) > count({col}) "
            f"FROM read_parquet('{src}') WHERE {where}"
        ).fetchone()
        assert (r["ndv"], r["null_seen"]) == (w[0], w[1]), (col, where)


def test_multi_key_group_by_matches_sql(spark, tmp_path, monkeypatch):
    """Multi-key GROUP BY pushdown: composite dense keys per block must
    equal plain SQL GROUP BY a, b [, c] on any int/string mix, with NULLs
    participating in key tuples, under predicates (incl. OR), across
    compaction; a single-element list degenerates to the single-key path
    and duplicates are refused."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 5000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 7:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "band_n": pa.array(
                [None if i % 17 == 5 else f"b{i // 1250}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 11 == 4 else (i * 37) % 5
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"],
        str_cols=["tag_n", "band_n"],
        rows_per_block=512, num_tasks=2,
    )

    def norm(t):
        return tuple((x is not None, x) for x in t)

    def check():
        for cols, where, preds in [
            (["tag_n", "v_n"], "1=1", None),
            (["v_n", "tag_n"], "1=1", None),          # order matters
            (["tag_n", "band_n", "v_n"], "1=1", None),  # 3 keys, 2 str
            (["band_n", "v_n"],
             "(v_n BETWEEN 1 AND 3 OR v_n IS NULL) AND k BETWEEN 100 "
             "AND 4500",
             [("or", [("between", "v_n", 1, 3), ("isnull", "v_n")]),
              ("between", "k", 100, 4500)]),
        ]:
            got = sorted(
                (
                    tuple(r[c] for c in cols)
                    + (r["n_rows"], r["n_vals"],
                       int(r["sum_val"]) if r["sum_val"] is not None
                       else None, r["min_val"], r["max_val"])
                    for r in table_files.agg_table_files_by(
                        spark, out, "k", cols, preds=preds).collect()
                ),
                key=lambda t: norm(t[:len(cols)]),
            )
            want = sorted(
                (
                    tuple(w[:len(cols)])
                    + (w[len(cols)], w[len(cols) + 1],
                       int(w[len(cols) + 2])
                       if w[len(cols) + 2] is not None else None,
                       w[len(cols) + 3], w[len(cols) + 4])
                    for w in duckdb.sql(
                        f"SELECT {', '.join(cols)}, count(*), count(k), "
                        f"sum(k), min(k), max(k) "
                        f"FROM read_parquet('{src}') WHERE {where} "
                        f"GROUP BY {', '.join(cols)}"
                    ).fetchall()
                ),
                key=lambda t: norm(t[:len(cols)]),
            )
            assert got == want and len(got) > 0, (cols, where)

    for _ in _dispatch_paths(monkeypatch):
        check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    for _ in _dispatch_paths(monkeypatch):
        check()

    # single-element list -> single-key path, same columns
    df = table_files.agg_table_files_by(spark, out, "k", ["tag_n"])
    assert df.columns == ["tag_n", "n_rows", "n_vals", "sum_val",
                          "min_val", "max_val"]
    with pytest.raises(ValueError, match="duplicate group column"):
        table_files.agg_table_files_by(spark, out, "k",
                                       ["tag_n", "tag_n"])
    with pytest.raises(ValueError, match="at least one"):
        table_files.agg_table_files_by(spark, out, "k", [])


def test_explain_scan_reports_exact_plan(spark, tmp_path):
    """EXPLAIN must report, without reading a payload byte, exactly what
    the scan would do: class counts tie out against zonemap_stats, the
    surviving-row bound is exact on block boundaries, payload_bytes under
    an always-true predicate equals the metadata's enc_bytes sum over the
    involved columns, and an all-pruned predicate reports zero IO."""
    import glob as _glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )

    # 1. class counts tie out against zonemap_stats on a pure range
    lo, hi = 1000, 1999
    ex = table_files.explain_scan_table_files(
        spark, out, [("between", "k", lo, hi)], columns=["k", "v_n"]
    ).collect()[0]
    zs = table_files.zonemap_stats(out, "k", lo, hi)
    assert ex["blocks_total"] == zs["blocks_total"]
    assert ex["blocks_full"] + ex["blocks_partial"] == \
        zs["blocks_matching"]
    assert ex["rows_surviving"] == zs["rows_in_matching"]
    assert ex["rows_total"] == zs["rows_total"] == n
    # the actual scan returns a subset of the surviving rows
    got = table_files.scan_table_files(
        spark, out, "k", lo, hi, columns=["k", "v_n"]).count()
    assert got <= ex["rows_surviving"]
    assert ex["payload_bytes"] > 0

    # 2. always-true predicate: payload = full enc_bytes of involved cols
    ex_all = table_files.explain_scan_table_files(
        spark, out, [("notnull", "k")], columns=["k", "v_n", "tag_n"]
    ).collect()[0]
    want_bytes = 0
    for f in _glob.glob(f"{out}/blocks/*.parquet"):
        t = pq.read_table(f, columns=["col_name", "enc_bytes"],
                          filters=[("col_name", "in",
                                    ["k", "v_n", "tag_n"])])
        want_bytes += sum(t.column("enc_bytes").to_pylist())
    assert ex_all["payload_bytes"] == want_bytes
    assert ex_all["blocks_pruned"] == 0
    assert ex_all["rows_surviving"] == n

    # 3. all-pruned: zero IO, full prune accounting
    ex0 = table_files.explain_scan_table_files(
        spark, out, [("between", "k", 10 * n, 11 * n)]
    ).collect()[0]
    assert ex0["blocks_pruned"] == ex0["blocks_total"] > 0
    assert ex0["payload_bytes"] == 0 and ex0["rows_surviving"] == 0

    # 4. membership predicates classify through sidecars in the plan
    exm = table_files.explain_scan_table_files(
        spark, out,
        [("eq", "tag_n", "w03"), ("between", "k", 0, 999)],
    ).collect()[0]
    assert 0 < exm["blocks_full"] + exm["blocks_partial"] <= \
        ex["blocks_total"]


def test_multi_value_aggregate_matches_sql(spark, tmp_path):
    """agg_table_files_where with a value-column LIST: one predicate
    evaluation aggregates every listed column (labeled rows), equal to
    the per-column SQL aggregates; the single-column path keeps its
    classic unlabeled one-row shape; duplicates/empty refused."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "a_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
            "b_n": pa.array(
                [None if i % 5 == 2 else (i * 13) % 50 - 25
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "a_n", "b_n"], str_cols=[],
        rows_per_block=512, num_tasks=2,
    )

    rows = {r["val_col"]: r for r in table_files.agg_table_files_where(
        spark, out, ["a_n", "b_n", "k"],
        [("between", "k", 100, 3500), ("notnull", "a_n")],
    ).collect()}
    assert set(rows) == {"a_n", "b_n", "k"}
    for col in rows:
        w = duckdb.sql(
            f"SELECT count(*), count({col}), sum({col}), min({col}), "
            f"max({col}) FROM read_parquet('{src}') "
            "WHERE k BETWEEN 100 AND 3500 AND a_n IS NOT NULL"
        ).fetchone()
        r = rows[col]
        assert (r["n_rows"], r["n_vals"], int(r["sum_val"]),
                r["min_val"], r["max_val"]) == (
            w[0], w[1], int(w[2]), w[3], w[4]), col

    # single-column path: classic unlabeled one-row shape
    df = table_files.agg_table_files_where(
        spark, out, "a_n", [("between", "k", 0, 100)])
    assert df.columns == ["n_rows", "n_vals", "sum_val", "min_val",
                          "max_val"]
    # all-pruned multi: zero rows per column, NULL aggregates
    empty = {r["val_col"]: (r["n_rows"], r["sum_val"]) for r in
             table_files.agg_table_files_where(
                 spark, out, ["a_n", "b_n"],
                 [("between", "k", 10 * n, 11 * n)]).collect()}
    assert empty == {"a_n": (0, None), "b_n": (0, None)}
    with pytest.raises(ValueError, match="duplicate value column"):
        table_files.agg_table_files_where(
            spark, out, ["a_n", "a_n"], [("between", "k", 0, 1)])
    with pytest.raises(ValueError, match="at least one"):
        table_files.agg_table_files_where(
            spark, out, [], [("between", "k", 0, 1)])


def test_query_tasks_fan_out_per_segment(spark, orders_dir, tmp_path):
    """Query parallelism survives compaction: a merged bin fans out to one
    task per absorbed split (enumerated from the manifest lineage, no
    payload IO), the merged file carries one row group per segment so a
    segment task's split_seq filter prunes to its own pages, and every
    operator's results are identical before and after the merge."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "enc")
    _encode(spark, orders_dir, out)
    n_files = len(glob.glob(f"{out}/blocks/*.parquet"))
    assert n_files >= 2
    pre_tasks = table_files._query_tasks(out)
    assert len(pre_tasks) == n_files
    assert pre_tasks["segment"].isna().all()

    def battery():
        scan = sorted(
            (r["o_orderkey"], r["o_orderstatus"])
            for r in table_files.scan_table_files_where(
                spark, out,
                [("between", "o_orderkey", 0, 1 << 40),
                 ("prefix", "o_orderpriority", "1")],
                columns=["o_orderkey", "o_orderstatus"],
            ).collect()
        )
        agg = table_files.agg_table_files(
            spark, out, "o_custkey", "o_orderkey", 0, 1 << 40
        ).collect()[0].asDict()
        grp = sorted(
            (r["o_orderstatus"], r["n_rows"], str(r["sum_val"]))
            for r in table_files.agg_table_files_by(
                spark, out, "o_custkey", "o_orderstatus"
            ).collect()
        )
        dis = sorted(
            r["o_orderpriority"]
            for r in table_files.distinct_table_files(
                spark, out, "o_orderpriority"
            ).collect()
        )
        top = sorted(
            r["o_orderkey"]
            for r in table_files.topk_table_files(
                spark, out, "o_orderkey", 7, ascending=False,
                columns=["o_orderkey"],
            ).collect()
        )
        return scan, agg, grp, dis, top

    before = battery()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    merged = glob.glob(f"{out}/blocks/*.parquet")
    assert len(merged) == 1
    # fan-out: as many tasks as absorbed splits, each segment-scoped
    post_tasks = table_files._query_tasks(out)
    assert len(post_tasks) == n_files
    assert post_tasks["segment"].notna().all()
    assert post_tasks["file"].nunique() == 1
    # one row group per segment: split_seq is constant within each group
    pf = pq.ParquetFile(merged[0])
    assert pf.metadata.num_row_groups >= n_files
    for rg in range(pf.metadata.num_row_groups):
        seqs = set(pf.read_row_group(rg, columns=["split_seq"])
                   .column("split_seq").to_pylist())
        assert len(seqs) == 1
    assert battery() == before


def test_fresh_file_row_groups_per_column(spark, orders_dir, tmp_path):
    """Fresh blocks files are written one row group per column (and
    sidecars per string column): a column-filtered payload read then
    decompresses only that column's blocks, not the whole file — the IO
    unit of projection pruning."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "enc")
    _encode(spark, orders_dir, out)
    for path in glob.glob(f"{out}/blocks/*.parquet"):
        pf = pq.ParquetFile(path)
        assert pf.metadata.num_row_groups == len(INT_COLS + STR_COLS)
        for rg in range(pf.metadata.num_row_groups):
            names = set(
                pf.read_row_group(rg, columns=["col_name"])
                .column("col_name").to_pylist()
            )
            assert len(names) == 1
    for path in glob.glob(f"{out}/strings/*.parquet"):
        pf = pq.ParquetFile(path)
        assert pf.metadata.num_row_groups == len(STR_COLS)


def test_recompaction_preserves_segments_and_results(spark, orders_dir,
                                                     tmp_path):
    """Compacting a dataset that already contains a merged bin: the
    second merge keeps every original split addressable (lineage maps
    union; runs stay contiguous for row-group pruning), query fan-out
    still plans one task per original split, and results are unchanged."""
    out = str(tmp_path / "enc")
    _encode(spark, orders_dir, out)
    n_files = len(glob.glob(f"{out}/blocks/*.parquet"))
    assert n_files >= 4

    def probe():
        agg = table_files.agg_table_files(
            spark, out, "o_custkey", "o_orderkey", 0, 1 << 40
        ).collect()[0].asDict()
        dis = sorted(
            r["o_orderstatus"]
            for r in table_files.distinct_table_files(
                spark, out, "o_orderstatus"
            ).collect()
        )
        return agg, dis

    before = probe()
    # first pass: merge only a subset by sizing the bins tightly enough
    # that one bin holds 2 files (target = 2x the largest file)
    sizes = sorted(
        (p, len(open(p, "rb").read()))
        for p in glob.glob(f"{out}/blocks/*.parquet")
    )
    target = max(s for _, s in sizes) * 2 + 1024
    r1 = engine_files.compact_blocks(spark, out, target_bytes=target)
    assert r1["bins_written"] >= 1
    assert probe() == before
    # second pass: merge everything, including the already-merged bin
    r2 = engine_files.compact_blocks(spark, out, target_bytes=1 << 40)
    assert r2["bins_written"] >= 1
    merged = glob.glob(f"{out}/blocks/*.parquet")
    assert len(merged) == 1
    tasks = table_files._query_tasks(out)
    assert len(tasks) == n_files and tasks["segment"].notna().all()
    assert probe() == before
    v = table_files.verify_table_files(spark, out)
    assert v["mismatches"] == 0


def test_in_list_predicates_reject_bare_strings(spark, orders_dir,
                                                tmp_path):
    """('in', col, 'abc') / ('int_in', col, '123') would iterate the
    string into per-character literals and silently return wrong rows —
    both now fail loudly at normalization, on the driver."""
    out = str(tmp_path / "enc")
    _encode(spark, orders_dir, out)
    with pytest.raises(ValueError, match="single string"):
        table_files.scan_table_files_where(
            spark, out, [("in", "o_orderstatus", "abc")],
            columns=["o_orderkey"],
        )
    with pytest.raises(ValueError, match="single string"):
        table_files.scan_table_files_where(
            spark, out, [("int_in", "o_custkey", "123")],
            columns=["o_orderkey"],
        )


def test_explain_counts_files_not_tasks(spark, orders_dir, tmp_path):
    """EXPLAIN fans out per segment like every other operator, but its
    `files` metric counts LIVE FILES (planner-known): a bin absorbing 4
    splits is still one file, and the block/row/byte sums are identical
    before and after the merge."""
    out = str(tmp_path / "enc")
    _encode(spark, orders_dir, out)
    preds = [("between", "o_orderkey", 0, 1 << 40)]
    before = table_files.explain_scan_table_files(
        spark, out, preds, columns=["o_orderkey", "o_custkey"]
    ).collect()[0].asDict()
    n_files = len(glob.glob(f"{out}/blocks/*.parquet"))
    assert before["files"] == n_files
    engine_files.compact_blocks(spark, out, target_bytes=1 << 40)
    after = table_files.explain_scan_table_files(
        spark, out, preds, columns=["o_orderkey", "o_custkey"]
    ).collect()[0].asDict()
    assert after["files"] == 1
    for k in ("blocks_total", "blocks_pruned", "blocks_full",
              "blocks_partial", "rows_total", "rows_pruned",
              "rows_surviving", "payload_bytes"):
        assert after[k] == before[k], k


def _spark_jobs(spark, fn, group: str) -> int:
    """Number of Spark jobs ``fn()`` launches, counted under a job group
    once the listener bus has drained (the status store is fed
    asynchronously)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_spark_tasks_relation_is_shuffle_free(spark, orders_dir,
                                              tmp_path):
    """The query task relation has no Exchange, one partition per task,
    task i alone in partition i, and carries each task's segment exactly
    (null for a whole-file task) — checked on a mix of a compacted
    dataset's segment tasks and a fresh dataset's whole-file tasks."""
    import pandas as pd

    merged = str(tmp_path / "merged")
    _encode(spark, orders_dir, merged)
    engine_files.compact_blocks(spark, merged, target_bytes=1 << 40)
    fresh = str(tmp_path / "fresh")
    _encode(spark, orders_dir, fresh)
    seg_tasks = table_files._query_tasks(merged)
    whole_tasks = table_files._query_tasks(fresh)
    assert len(seg_tasks) >= 2 and seg_tasks["segment"].notna().all()
    assert whole_tasks["segment"].isna().all()
    tasks = pd.concat([seg_tasks, whole_tasks], ignore_index=True)

    rel = table_files._spark_tasks(spark, tasks)
    plan = rel._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert rel.rdd.getNumPartitions() == len(tasks)
    rows = rel.select(
        F.spark_partition_id().alias("pid"), "file", "segment"
    ).collect()
    assert sorted(r["pid"] for r in rows) == list(range(len(tasks)))
    by_pid = {r["pid"]: (r["file"], r["segment"]) for r in rows}
    for i, (f, s) in enumerate(zip(tasks["file"], tasks["segment"])):
        assert by_pid[i] == (f, s), i


def test_explain_and_metadata_count_launch_no_spark_job(spark, orders_dir,
                                                         tmp_path):
    """EXPLAIN (scan and aggregate) classifies on the driver and returns a
    local relation, and a predicate-free COUNT(*) is served from the
    manifest: collecting any of them launches zero Spark jobs."""
    out = str(tmp_path / "enc")
    _encode(spark, orders_dir, out)
    preds = [("between", "o_orderkey", 0, 5000)]
    res = {}

    def explain_scan():
        res["scan"] = table_files.explain_scan_table_files(
            spark, out, preds, columns=["o_orderkey", "o_custkey"]
        ).collect()

    def explain_agg():
        res["agg"] = table_files.explain_agg_table_files(
            spark, out, "o_custkey", preds).collect()

    def count_all():
        res["count"] = table_files.count_table_files_where(
            spark, out, []).collect()

    # control: the counter is not blind
    assert _spark_jobs(spark, lambda: spark.range(3).collect(),
                       "rlv-control") >= 1
    assert _spark_jobs(spark, explain_scan, "rlv-explain-scan") == 0
    assert _spark_jobs(spark, explain_agg, "rlv-explain-agg") == 0
    assert _spark_jobs(spark, count_all, "rlv-count-all") == 0
    n = spark.read.parquet(orders_dir).count()
    [scan], [agg], [cnt] = res["scan"], res["agg"], res["count"]
    assert cnt["n_rows"] == n
    assert scan["files"] == agg["files"] == len(
        glob.glob(f"{out}/blocks/*.parquet"))
    assert scan["rows_total"] == agg["rows_total"] == n
    assert scan["blocks_full"] + scan["blocks_partial"] > 0
    assert agg["blocks_total"] == scan["blocks_total"]


# Driver-local cap per query dispatch path: 0 sends every plan with a
# surviving row through the Spark workers, an unreachable cap runs every
# plan on the driver.  Test tables are small, so a test that pins neither
# covers only the driver path.
_DISPATCH_CAPS = {"spark": 0, "local": 1 << 62}


@pytest.fixture(params=list(_DISPATCH_CAPS))
def dispatch(request, monkeypatch):
    """Pin the query dispatch path for the whole test."""
    monkeypatch.setattr(table_files, "_DRIVER_LOCAL_MAX_CELLS",
                        _DISPATCH_CAPS[request.param])
    return request.param


def _dispatch_paths(monkeypatch):
    """Run a loop body once per query dispatch path (Spark workers, then
    the driver) over one encoded dataset."""
    for path, cap in _DISPATCH_CAPS.items():
        monkeypatch.setattr(table_files, "_DRIVER_LOCAL_MAX_CELLS", cap)
        yield path


def test_tiny_plans_run_on_the_driver(spark, tmp_path, monkeypatch):
    """A plan whose surviving cells fit the cap runs in-process: a tiny
    predicate COUNT(*) launches no Spark job and a tiny scan is a local
    relation with no MapInArrow stage; a scan over the cap still runs
    its mapInArrow workers.  Both paths return the same rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 140_000  # 2 columns x 140k rows is past the 1 << 17 cell cap
    pq.write_table(
        pa.table({
            "k": pa.array(range(n), pa.int64()),
            "v": pa.array([(i * 37) % 1000 for i in range(n)], pa.int64()),
        }),
        f"{d}/p.parquet", row_group_size=16384,
    )
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/p.parquet"], out, order_col="k",
        int_cols=["k", "v"], rows_per_block=4096, num_tasks=4,
    )
    tiny = [("between", "k", 5000, 5999), ("between", "v", 0, 499)]
    res = {}

    def count():
        res["n"] = table_files.count_table_files_where(
            spark, out, tiny).collect()[0]["n_rows"]

    assert _spark_jobs(spark, count, "rlv-tiny-count") == 0
    assert res["n"] == sum(
        1 for i in range(5000, 6000) if (i * 37) % 1000 <= 499)

    def plan_of(preds):
        df = table_files.scan_table_files_where(
            spark, out, preds, columns=["k", "v"])
        return df, df._jdf.queryExecution().executedPlan().toString()

    small, plan = plan_of(tiny)
    assert "LocalTableScan" in plan and "MapInArrow" not in plan, plan
    wide, plan = plan_of([("between", "k", 0, n)])
    assert "MapInArrow" in plan, plan
    assert wide.count() == n
    got = sorted(tuple(r) for r in small.collect())
    assert len(got) == res["n"]
    monkeypatch.setattr(table_files, "_DRIVER_LOCAL_MAX_CELLS", 0)
    spark_df, plan = plan_of(tiny)
    assert "MapInArrow" in plan, plan
    assert sorted(tuple(r) for r in spark_df.collect()) == got


def _python_nodes(df) -> dict:
    """Python-worker nodes in ``df``'s executed plan, by node name."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {name: plan.count(name) for name in (
        "MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")}


def test_one_python_node_per_operator(spark, tmp_path, monkeypatch):
    """Every pushdown operator crosses into Python once: over the
    driver-local cap its executed plan holds exactly one MapInArrow and
    no other Python node (no ArrowEvalPython restore, no MapInPandas);
    a tiny plan holds none.  Both plans return the same rows.  The table
    has int32, float64, float32, timestamp, date and string columns; the
    join's small dimension side stays under the cap, so only its fact
    side runs on the workers."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 3000
    rng = np.random.default_rng(3)
    pq.write_table(pa.table({
        "k": pa.array(range(n), pa.int64()),
        "i": pa.array(rng.integers(0, 50, n), pa.int32()),
        "x": pa.array(rng.normal(size=n), pa.float64()),
        "y": pa.array(rng.normal(size=n).astype(np.float32)),
        "ts": pa.array(rng.integers(0, 10 ** 15, n), pa.timestamp("us")),
        "d": pa.array(rng.integers(0, 20000, n).astype(np.int32),
                      pa.date32()),
        "s": pa.array([f"s{j % 7}" for j in range(n)]),
    }), f"{d}/fact.parquet")
    pq.write_table(pa.table({
        "i": pa.array(range(50), pa.int32()),
        "name": pa.array([f"n{j}" for j in range(50)]),
    }), f"{d}/dim.parquet")
    fact, dim = str(tmp_path / "fact"), str(tmp_path / "dim")
    table_files.encode_table_files(
        spark, [f"{d}/fact.parquet"], fact, order_col="k",
        int_cols=["k", "i", "x", "y", "ts", "d"], str_cols=["s"],
        rows_per_block=256, num_tasks=2,
    )
    table_files.encode_table_files(
        spark, [f"{d}/dim.parquet"], dim, order_col="i", int_cols=["i"],
        str_cols=["name"], num_tasks=1,
    )
    preds = [("between", "k", 0, n)]
    ops = {
        "scan": lambda: table_files.scan_table_files_where(
            spark, fact, preds, columns=["k", "i", "x", "y", "ts", "d",
                                         "s"]),
        "agg": lambda: table_files.agg_table_files_where(
            spark, fact, "i", preds),
        "count": lambda: table_files.count_table_files_where(
            spark, fact, preds),
        "minmax": lambda: table_files.minmax_table_files_where(
            spark, fact, "x", preds),
        "group": lambda: table_files.agg_table_files_by(
            spark, fact, "i", ["y", "s"], preds=preds),
        "distinct": lambda: table_files.distinct_table_files(
            spark, fact, "ts", preds=preds),
        "topk": lambda: table_files.topk_table_files(
            spark, fact, "x", 10, columns=["k", "x", "d", "s"]),
        "join": lambda: table_files.join_table_files(
            spark, fact, dim, on="i", preds_a=preds, columns_a=["x"],
            columns_b=["name"]),
    }
    for name, op in ops.items():
        # 1000 cells: every fact-side plan is over it, the 50-row
        # dimension (100 cells) under it
        monkeypatch.setattr(table_files, "_DRIVER_LOCAL_MAX_CELLS", 1000)
        df = op()
        assert _python_nodes(df) == {
            "MapInArrow": 1, "MapInPandas": 0, "ArrowEvalPython": 0,
            "BatchEvalPython": 0}, (name, _python_nodes(df))
        rows = sorted(tuple(r) for r in df.collect())
        monkeypatch.setattr(table_files, "_DRIVER_LOCAL_MAX_CELLS", 1 << 62)
        tiny = op()
        assert not any(_python_nodes(tiny).values()), name
        assert sorted(tuple(r) for r in tiny.collect()) == rows, name


def test_local_relation_keeps_rows_after_empty_batches(spark):
    """A tiny plan's tasks emit one batch each, many of them empty; the
    local relation must keep every row after an empty batch (Spark 4.1
    loses the rows that follow one inside an Arrow table's stream)."""
    import pyarrow as pa

    schema = table_files._arrow_schema("a bigint")[1]

    def batch(vals):
        return pa.RecordBatch.from_arrays([pa.array(vals, pa.int64())],
                                          schema=schema)

    rel = table_files._local_relation(
        spark, "a bigint", [batch([]), batch([1, 2]), batch([]), batch([3])])
    assert sorted(r["a"] for r in rel.collect()) == [1, 2, 3]
    assert table_files._local_relation(spark, "a bigint", []).count() == 0


def test_topk_is_one_pass_with_bounded_gather(spark, tmp_path,
                                              monkeypatch):
    """Int-plane top-k is one pass: one task pipeline run
    (:func:`_run_tasks`), no second scan, one Spark job over the cap.
    Each task fetches the sort column at its zone-map survivors, then
    the other projected columns at no more than k blocks.  Heavy ties
    at the k-th value (5 distinct values, k=100) break on the order
    column, equal to DuckDB's ORDER BY v, k LIMIT 100, on both paths."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    for p in range(2):
        ks = np.arange(p * n // 2, (p + 1) * n // 2)
        pq.write_table(pa.table({
            "k": pa.array(ks, pa.int64()),
            "v": pa.array((ks * 7919) % 1000, pa.int64()),
            "g": pa.array(ks % 5, pa.int32()),
            "s": pa.array([f"s{j % 11}" for j in ks]),
        }), f"{d}/part{p}.parquet")
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet", f"{d}/part1.parquet"], out,
        order_col="k", int_cols=["k", "v", "g"], str_cols=["s"],
        rows_per_block=64, num_tasks=2,
    )
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{d}/*.parquet')")
    for _ in _dispatch_paths(monkeypatch):
        for asc in (True, False):
            got = [tuple(r) for r in table_files.topk_table_files(
                spark, out, "g", 100, ascending=asc, columns=["k", "g", "s"],
            ).collect()]
            want = duck.sql(
                f"SELECT k, g, s FROM t ORDER BY g {'ASC' if asc else 'DESC'}"
                ", k LIMIT 100").fetchall()
            assert got == want, asc

    fetches, runs = [], []
    real_fetch, real_run = table_files._fetch_payloads, table_files._run_tasks

    def spy_fetch(path, file_sid, seg, need):
        fetches.append({c: set(v) for c, v in need.items() if v})
        return real_fetch(path, file_sid, seg, need)

    def spy_run(*args, **kwargs):
        runs.append(type(args[3]).__name__)
        return real_run(*args, **kwargs)

    def no_scan(*args, **kwargs):
        raise AssertionError("top-k ran a second scan")

    k = 3
    monkeypatch.setattr(table_files, "_DRIVER_LOCAL_MAX_CELLS", 1 << 62)
    monkeypatch.setattr(table_files, "_fetch_payloads", spy_fetch)
    monkeypatch.setattr(table_files, "_run_tasks", spy_run)
    monkeypatch.setattr(table_files, "_run_scan_tasks", no_scan)
    got = table_files.topk_table_files(
        spark, out, "v", k, columns=["k", "v", "s"]).collect()
    assert [(r["k"], r["v"]) for r in got] == duck.sql(
        f"SELECT k, v FROM t ORDER BY v, k LIMIT {k}").fetchall()
    assert runs == ["_TopkReducer"]
    n_tasks = len(table_files._query_tasks(out))
    sort_reads = [f for f in fetches if set(f) == {"v"}]
    gathers = [f for f in fetches if set(f) == {"k", "s"}]
    assert len(sort_reads) == len(gathers) == n_tasks, fetches
    assert all(len(f["k"]) <= k and f["k"] == f["s"] for f in gathers)
    monkeypatch.undo()

    monkeypatch.setattr(table_files, "_DRIVER_LOCAL_MAX_CELLS", 0)
    assert _spark_jobs(spark, lambda: table_files.topk_table_files(
        spark, out, "v", k, columns=["k", "v"]).collect(),
        "rlv-topk-one-pass") == 1


def test_count_pushdown_matches_python(spark, tmp_path, dispatch):
    """COUNT(*) pushdown: full blocks count from metadata only, partial
    blocks decode only predicate columns; matches a Python reference on
    range, membership, validity, negation, and OR predicates — before
    and after compaction, on both dispatch paths."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 20000
    band = [None if i % 11 == 0 else (i // 100) for i in range(n)]
    tag = [None if i % 13 == 5 else f"t{(i * 7) % 5:01d}" for i in range(n)]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "band_n": pa.array(band, pa.int32()),
            "tag_n": pa.array(tag, pa.string()),
        }
    )
    for p in range(2):
        pq.write_table(tbl.slice(p * (n // 2), n // 2),
                       f"{d}/part{p}.parquet", row_group_size=2048)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, sorted(glob.glob(f"{d}/*.parquet")), out,
        order_col="k", int_cols=["k", "band_n"], str_cols=["tag_n"],
        rows_per_block=1024, num_tasks=2,
    )

    cases = [
        ([("between", "band_n", 40, 59)],
         lambda i: band[i] is not None and 40 <= band[i] <= 59),
        ([("eq", "tag_n", "t2")], lambda i: tag[i] == "t2"),
        ([("between", "band_n", 40, 159), ("in", "tag_n", ["t0", "t3"])],
         lambda i: band[i] is not None and 40 <= band[i] <= 159
         and tag[i] in ("t0", "t3")),
        ([("isnull", "band_n")], lambda i: band[i] is None),
        ([("not_between", "band_n", 0, 150)],
         lambda i: band[i] is not None and band[i] > 150),
        ([("or", [("isnull", "tag_n"), ("between", "band_n", 0, 3)])],
         lambda i: tag[i] is None
         or (band[i] is not None and band[i] <= 3)),
    ]

    def check():
        for preds, ref in cases:
            [r] = table_files.count_table_files_where(
                spark, out, preds
            ).collect()
            want = sum(1 for i in range(n) if ref(i))
            assert r["n_rows"] == want > 0, preds
    check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] == 1
    check()
    # all-pruned conjunction: zero, and empty-pred list refused
    [r0] = table_files.count_table_files_where(
        spark, out, [("between", "band_n", 10**9, 2 * 10**9)]
    ).collect()
    assert r0["n_rows"] == 0
    # no predicates: count(*) served from the manifest alone
    [rt] = table_files.count_table_files_where(spark, out, []).collect()
    assert rt["n_rows"] == n


def test_minmax_pushdown_matches_python(spark, tmp_path, monkeypatch):
    """MIN/MAX pushdown: full blocks fold their zone maps from metadata
    (no value payload), partial blocks decode and mask; SQL NULL
    semantics incl. the no-matching-valid-row NULL row — stable across
    compaction."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 20000
    band = [None if i % 11 == 0 else (i // 100) for i in range(n)]
    val = [None if i % 7 == 3 else (i * 13) % 5000 - 700 for i in range(n)]
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "band_n": pa.array(band, pa.int32()),
            "val_n": pa.array(val, pa.int32()),
        }
    )
    pq.write_table(tbl, f"{d}/part0.parquet", row_group_size=4096)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/part0.parquet"], out,
        order_col="k", int_cols=["k", "band_n", "val_n"],
        rows_per_block=1024, num_tasks=2,
    )

    def check():
        for lo, hi in [(40, 59), (0, 200), (150, 10**9)]:
            [r] = table_files.minmax_table_files_where(
                spark, out, "val_n", [("between", "band_n", lo, hi)]
            ).collect()
            vals = [
                val[i] for i in range(n)
                if band[i] is not None and lo <= band[i] <= hi
                and val[i] is not None
            ]
            assert (r["min_val"], r["max_val"]) == (min(vals), max(vals))
        # value == predicate column: full blocks are pure zone-map folds
        [r2] = table_files.minmax_table_files_where(
            spark, out, "band_n", [("between", "band_n", 40, 59)]
        ).collect()
        assert (r2["min_val"], r2["max_val"]) == (40, 59)
        # no matching valid row -> SQL NULL row
        [r3] = table_files.minmax_table_files_where(
            spark, out, "val_n", [("between", "band_n", 10**8, 10**9)]
        ).collect()
        assert (r3["min_val"], r3["max_val"]) == (None, None)
    for _ in _dispatch_paths(monkeypatch):
        check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] == 1
    for _ in _dispatch_paths(monkeypatch):
        check()


def test_or_of_and_pushdown_matches_sql(spark, tmp_path):
    """One AND level inside OR branches (`("or", [..., ("and", [leaf,
    ...]), ...])`) — full one-alternation WHERE clauses: a branch group
    classifies as the MIN over its conjuncts (pruned if any conjunct
    prunes, full if all do) and masks as the AND of their row masks,
    checked vs plain SQL on scan / aggregate / GROUP BY / DISTINCT /
    top-k, stable under compaction, deeper nesting refused."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tag_n": pa.array(
                [None if i % 13 == 0 else f"w{i % 19:02d}"
                 for i in range(n)],
                pa.string(),
            ),
            "v_n": pa.array(
                [None if i % 7 == 4 else (i * 37) % 1000
                 for i in range(n)],
                pa.int64(),
            ),
        }
    )
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )

    cases = [
        # (A AND B) OR C — cross-type group
        ([("or", [("and", [("between", "v_n", 0, 400),
                           ("prefix", "tag_n", "w0")]),
                  ("between", "k", 5500, 6000)])],
         "((v_n BETWEEN 0 AND 400 AND tag_n LIKE 'w0%') "
         "OR k BETWEEN 5500 AND 6000)"),
        # two AND groups disjoined
        ([("or", [("and", [("between", "v_n", 0, 100),
                           ("eq", "tag_n", "w03")]),
                  ("and", [("between", "v_n", 900, 999),
                           ("isnull", "tag_n")])])],
         "((v_n BETWEEN 0 AND 100 AND tag_n = 'w03') OR "
         "(v_n BETWEEN 900 AND 999 AND tag_n IS NULL))"),
        # group with validity conjunct, ANDed with a top-level range
        ([("or", [("and", [("notnull", "v_n"),
                           ("not_between", "v_n", 100, 899)]),
                  ("eq", "tag_n", "w05")]),
          ("between", "k", 100, 5900)],
         "((v_n IS NOT NULL AND v_n NOT BETWEEN 100 AND 899) "
         "OR tag_n = 'w05') AND k BETWEEN 100 AND 5900"),
        # top-level ("and", [...]) splices into the conjunction
        ([("and", [("between", "k", 0, 3000),
                   ("between", "v_n", 0, 500)])],
         "k BETWEEN 0 AND 3000 AND v_n BETWEEN 0 AND 500"),
    ]

    def check():
        for preds, where in cases:
            got = sorted(
                (r["k"], r["v_n"], r["tag_n"]) for r in
                table_files.scan_table_files_where(
                    spark, out, preds,
                    columns=["k", "v_n", "tag_n"]).collect()
            )
            want = sorted(duckdb.sql(
                f"SELECT k, v_n, tag_n FROM read_parquet('{src}') "
                f"WHERE {where}"
            ).fetchall())
            assert got == want and len(got) > 0, (preds, where)
        orand = [("or", [("and", [("between", "v_n", 0, 300),
                                  ("prefix", "tag_n", "w1")]),
                         ("isnull", "v_n")])]
        w_sql = ("(v_n BETWEEN 0 AND 300 AND tag_n LIKE 'w1%') "
                 "OR v_n IS NULL")
        # aggregate
        agg = table_files.agg_table_files_where(
            spark, out, "k", orand).collect()[0]
        w = duckdb.sql(
            "SELECT count(*), count(k), sum(k), min(k), max(k) "
            f"FROM read_parquet('{src}') WHERE {w_sql}"
        ).fetchone()
        assert (agg["n_rows"], agg["n_vals"], int(agg["sum_val"]),
                agg["min_val"], agg["max_val"]) == (
            w[0], w[1], int(w[2]), w[3], w[4])
        # group
        key = lambda t: ("" if t[0] is None else "z" + t[0],) + t[1:]
        g = sorted(
            ((r["tag_n"], r["n_rows"], int(r["sum_val"])) for r in
             table_files.agg_table_files_by(
                 spark, out, "k", "tag_n", preds=orand).collect()),
            key=key)
        wg = sorted(
            ((t, c, int(s)) for t, c, s in duckdb.sql(
                "SELECT tag_n, count(*), sum(k) "
                f"FROM read_parquet('{src}') WHERE {w_sql} "
                "GROUP BY tag_n"
            ).fetchall()), key=key)
        assert g == wg and len(g) > 0
        # DISTINCT
        dd = sorted(
            ("~n~" if r["tag_n"] is None else r["tag_n"]) for r in
            table_files.distinct_table_files(
                spark, out, "tag_n", preds=orand).collect()
        )
        wd = sorted(("~n~" if t is None else t) for (t,) in duckdb.sql(
            f"SELECT DISTINCT tag_n FROM read_parquet('{src}') "
            f"WHERE {w_sql}"
        ).fetchall())
        assert dd == wd and len(dd) > 0
        # top-k
        tk = [(r["k"], r["v_n"]) for r in table_files.topk_table_files(
            spark, out, "k", 15, ascending=False,
            columns=["k", "v_n"], preds=orand,
        ).collect()]
        wt = [tuple(x) for x in duckdb.sql(
            f"SELECT k, v_n FROM read_parquet('{src}') WHERE {w_sql} "
            "ORDER BY k DESC LIMIT 15"
        ).fetchall()]
        assert tk == wt
        # count
        assert table_files.count_table_files_where(
            spark, out, orand).collect()[0]["n_rows"] == duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{src}') WHERE {w_sql}"
        ).fetchone()[0]

    check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    check()

    # deeper nesting refused, loudly
    with pytest.raises(ValueError, match="one AND level"):
        table_files.scan_table_files_where(
            spark, out,
            [("or", [("and", [("or", [("between", "v_n", 0, 1),
                                      ("between", "v_n", 5, 6)]),
                              ("eq", "tag_n", "w01")]),
                     ("isnull", "v_n")])])
    with pytest.raises(ValueError, match="one list of conjunct"):
        table_files.scan_table_files_where(spark, out, [("and", "v_n")])


def test_contains_suffix_pushdown_matches_sql(spark, tmp_path):
    """LIKE '%s%' / '%s' via the dictionary sidecar: `contains` /
    `suffix` (+ negations) are membership matchers over each block's
    sorted-distinct entries — blocks whose dictionary holds no match
    prune without a payload byte (EXPLAIN-checked on a clustered tag
    column), and results equal plain SQL on scan and aggregate."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    # clustered tags: distinct dictionary content per block region
    tags = [None if i % 17 == 0 else f"grp{i // 500:02d}_item{i % 23:02d}"
            for i in range(n)]
    tbl = pa.table({
        "k": pa.array(range(n), pa.int64()),
        "tag_n": pa.array(tags, pa.string()),
    })
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k"], str_cols=["tag_n"],
        rows_per_block=500, num_tasks=2,
    )

    cases = [
        ([("contains", "tag_n", "item07")], "tag_n LIKE '%item07%'"),
        ([("suffix", "tag_n", "item11")], "tag_n LIKE '%item11'"),
        ([("not_contains", "tag_n", "grp03")],
         "tag_n NOT LIKE '%grp03%'"),
        ([("not_suffix", "tag_n", "2")], "tag_n NOT LIKE '%2'"),
        ([("contains", "tag_n", "grp05"), ("suffix", "tag_n", "1")],
         "tag_n LIKE '%grp05%' AND tag_n LIKE '%1'"),
        ([("contains", "tag_n", "")], "tag_n LIKE '%%'"),
    ]
    for preds, where in cases:
        got = sorted(
            (r["k"], r["tag_n"]) for r in
            table_files.scan_table_files_where(
                spark, out, preds, columns=["k", "tag_n"]).collect()
        )
        want = sorted(duckdb.sql(
            f"SELECT k, tag_n FROM read_parquet('{src}') WHERE {where}"
        ).fetchall())
        assert got == want and len(got) > 0, (preds, where)
    # aggregate surface
    agg = table_files.agg_table_files_where(
        spark, out, "k", [("contains", "tag_n", "grp02")]
    ).collect()[0]
    w = duckdb.sql(
        "SELECT count(*), sum(k) FROM read_parquet("
        f"'{src}') WHERE tag_n LIKE '%grp02%'"
    ).fetchone()
    assert (agg["n_rows"], int(agg["sum_val"])) == (w[0], int(w[1]))
    # pruning: 'grp05' lives only in blocks 4000/500*[2500..2999] — the
    # other blocks' dictionaries have no match, so their payloads never
    # read; EXPLAIN bills exactly the matching region
    [full] = table_files.explain_scan_table_files(
        spark, out, [("contains", "tag_n", "grp")], columns=["k"]
    ).collect()
    [one] = table_files.explain_scan_table_files(
        spark, out, [("contains", "tag_n", "grp05")], columns=["k"]
    ).collect()
    assert (one["blocks_full"] + one["blocks_partial"]
            < full["blocks_full"] + full["blocks_partial"])
    assert one["payload_bytes"] < full["payload_bytes"]
    # block-granular: exactly the grp05 region's 500 rows survive
    # classification (the ~29 NULLs inside mask out at decode)
    assert one["rows_surviving"] == 500
    assert table_files.scan_table_files_where(
        spark, out, [("contains", "tag_n", "grp05")], columns=["k"]
    ).count() == sum(
        1 for t in tags if t is not None and "grp05" in t)


def test_string_topk_matches_sql_order_by_limit(spark, tmp_path, monkeypatch):
    """String ORDER BY pushdown: top-k on a dictionary column draws its
    per-file candidates from the sorted-distinct sidecars alone (no
    payload in the threshold pass), bounds the final scan with a
    one-sided string predicate, and equals SQL `WHERE s IS NOT NULL
    ORDER BY s [DESC], k LIMIT k` — tie-heavy values, NULLs, both
    directions, under predicates, stable under compaction."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 5000
    # heavy ties: only 40 distinct tags; ~6% NULLs; clustered-ish regions
    tags = [None if i % 16 == 9
            else f"t{((i * 7) % 40):02d}" for i in range(n)]
    tbl = pa.table({
        "k": pa.array(range(n), pa.int64()),
        "s_n": pa.array(tags, pa.string()),
        "v_n": pa.array(
            [None if i % 11 == 3 else (i * 13) % 700 for i in range(n)],
            pa.int64(),
        ),
    })
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["s_n"],
        rows_per_block=512, num_tasks=2,
    )

    def check():
        for asc, k, preds, where in [
            (True, 25, None, "s_n IS NOT NULL"),
            (False, 25, None, "s_n IS NOT NULL"),
            (True, 7, [("between", "v_n", 0, 200)],
             "v_n BETWEEN 0 AND 200 AND s_n IS NOT NULL"),
            (False, 12, [("prefix", "s_n", "t1")],
             "s_n LIKE 't1%' AND s_n IS NOT NULL"),
            # k beyond the distinct count: unbounded final scan
            (True, 4800, None, "s_n IS NOT NULL"),
        ]:
            got = [
                (r["k"], r["s_n"]) for r in table_files.topk_table_files(
                    spark, out, "s_n", k, ascending=asc,
                    columns=["k", "s_n"], preds=preds,
                ).collect()
            ]
            dirn = "" if asc else "DESC"
            want = [tuple(x) for x in duckdb.sql(
                f"SELECT k, s_n FROM read_parquet('{src}') "
                f"WHERE {where} ORDER BY s_n {dirn}, k LIMIT {k}"
            ).fetchall()]
            assert got == want and len(got) > 0, (asc, k, preds)
        # projection without the sort column
        got2 = sorted(r["v_n"] for r in table_files.topk_table_files(
            spark, out, "s_n", 30, ascending=True, columns=["v_n"],
        ).collect() if r["v_n"] is not None)
        # row SET is tie-arbitrary without the order column, so compare
        # against the deterministic tie-break oracle only on size
        assert len(got2) > 0
    for _ in _dispatch_paths(monkeypatch):
        check()
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    for _ in _dispatch_paths(monkeypatch):
        check()


def test_string_index_cols_point_lookup_parity(spark, tmp_path):
    """index_cols on a STRING column: declaration-only (the dictionary
    sidecar already IS the membership index — zero extra bytes), and an
    eq point lookup on an unclustered string key prunes with the same
    block-level exactness as the int membership-index drill."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 60000
    rng = np.random.default_rng(13)
    fk = rng.integers(0, 500_000, size=n)
    sk = [f"key{int(v):06d}" for v in fk]
    for i in range(0, n, 31):
        sk[i] = None
    pq.write_table(
        pa.table({
            "k": pa.array(range(n), pa.int64()),
            "sk_n": pa.array(sk, pa.string()),
            "v": pa.array(rng.integers(0, 1000, n), pa.int64()),
        }),
        f"{d}/p.parquet", row_group_size=16384,
    )
    out = str(tmp_path / "enc")
    s = table_files.encode_table_files(
        spark, [f"{d}/p.parquet"], out, order_col="k",
        int_cols=["k", "v"], str_cols=["sk_n"],
        rows_per_block=1024, num_tasks=3,
        index_cols=["sk_n"],
    )
    schema = table_files._load_table_schema(out)
    assert schema["index_cols"] == ["sk_n"]
    duck = duckdb.connect()
    duck.sql(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{d}/p.parquet')")
    key = sk[5]
    assert key is not None

    got = table_files.scan_table_files_where(
        spark, out, [("eq", "sk_n", key)], columns=["k", "sk_n"]
    ).collect()
    want = duck.sql(
        f"SELECT k, sk_n FROM t WHERE sk_n = '{key}' ORDER BY 1"
    ).fetchall()
    assert sorted((r["k"], r["sk_n"]) for r in got) == \
        [tuple(w) for w in want] and len(want) >= 1
    [ex] = table_files.explain_scan_table_files(
        spark, out, [("eq", "sk_n", key)], columns=["k", "sk_n"]
    ).collect()
    # pruning parity with the int index drill: only blocks whose
    # dictionary holds the key survive classification
    assert 0 < (ex.blocks_full + ex.blocks_partial) <= len(want) + 1
    assert ex.blocks_total >= 50
    # a mistyped index column still refuses loudly
    with pytest.raises(ValueError, match="index_cols"):
        table_files.encode_table_files(
            spark, [f"{d}/p.parquet"], str(tmp_path / "enc2"),
            order_col="k", int_cols=["k", "v"], str_cols=["sk_n"],
            index_cols=["nope"],
        )


def test_encode_refuses_missing_columns_on_the_driver(spark, tmp_path):
    """A declared int or string column the input lacks fails on the
    driver with a ValueError naming it, not as a worker KeyError."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    pq.write_table(
        pa.table({"k": pa.array(range(10), pa.int64()),
                  "s": pa.array(["a"] * 10, pa.string())}),
        f"{d}/p.parquet",
    )
    for int_cols, str_cols, bad in (
        (["k", "v_typo"], ["s"], "v_typo"),
        (["k"], ["s", "s_typo"], "s_typo"),
    ):
        with pytest.raises(ValueError, match=bad):
            table_files.encode_table_files(
                spark, [f"{d}/p.parquet"], str(tmp_path / f"enc_{bad}"),
                order_col="k", int_cols=int_cols, str_cols=str_cols,
                index_cols=[bad],
            )


def test_ctas_keeps_string_index_cols(spark, tmp_path):
    """CTAS carries every projected index column into the derived
    dataset's schema, string ones included."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 4000
    pq.write_table(
        pa.table({
            "k": pa.array(range(n), pa.int64()),
            "fk": pa.array([(i * 7) % 301 for i in range(n)], pa.int64()),
            "sk": pa.array([f"key{i % 97:03d}" for i in range(n)],
                           pa.string()),
        }),
        f"{d}/p.parquet",
    )
    src = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f"{d}/p.parquet"], src, order_col="k",
        int_cols=["k", "fk"], str_cols=["sk"], rows_per_block=512,
        num_tasks=2, index_cols=["fk", "sk"],
    )
    dst = str(tmp_path / "dst")
    table_files.ctas_table_files(
        spark, src, dst, [("between", "k", 100, 2999)],
        columns=["k", "fk", "sk"],
    )
    assert table_files._load_table_schema(dst)["index_cols"] == ["fk", "sk"]
    [r] = table_files.count_table_files_where(
        spark, dst, [("eq", "sk", "key005")]).collect()
    assert r["n_rows"] == sum(
        1 for i in range(100, 3000) if i % 97 == 5)


def test_random_clause_sweep_matches_sql(spark, tmp_path, dispatch):
    """Seeded adversarial sweep over the WHOLE predicate algebra: 40
    random one-alternation clauses (every leaf kind incl. negations,
    validity, the LIKE family, OR and OR-of-AND nodes, degenerate
    literals like inverted ranges and absent values) compared against
    DuckDB on COUNT(*) and on the scan's rows — the last-line-of-defense
    property test behind the curated per-kind cases — on both dispatch
    paths.  Each clause's EXPLAIN must equal its execution: the scan
    bill's ``payload_bytes`` is the ``enc_bytes`` sum of the (column,
    block) pairs the scan fetches, its block classes are the ones the
    scan's pipeline assigned, and a tiny plan classifies each task
    once."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "src")
    os.makedirs(d)
    n = 6000
    tbl = pa.table({
        "k": pa.array(range(n), pa.int64()),
        "tag_n": pa.array(
            [None if i % 13 == 0 else f"w{i % 19:02d}" for i in range(n)],
            pa.string(),
        ),
        "v_n": pa.array(
            [None if i % 7 == 4 else (i * 37) % 1000 for i in range(n)],
            pa.int64(),
        ),
    })
    src = f"{d}/src.parquet"
    pq.write_table(tbl, src, row_group_size=1000)
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [src], out,
        order_col="k", int_cols=["k", "v_n"], str_cols=["tag_n"],
        rows_per_block=512, num_tasks=2,
    )
    rng = np.random.default_rng(20260818)

    def leaf():
        kind = rng.integers(0, 12)
        if kind in (0, 1):  # int range, sometimes inverted/empty
            a, b = int(rng.integers(-50, 1050)), int(rng.integers(-50, 1050))
            if rng.random() < 0.8 and a > b:
                a, b = b, a
            neg = "NOT " if kind == 1 else ""
            return (("not_between" if kind == 1 else "between",
                     "v_n", a, b),
                    f"v_n {neg}BETWEEN {a} AND {b}")
        if kind == 2:
            vals = sorted({int(x) for x in rng.integers(-5, 1005, 4)})
            return (("int_in", "v_n", vals),
                    f"v_n IN ({', '.join(map(str, vals))})")
        if kind in (3, 4):  # eq/ne incl. an absent literal
            t = (f"w{int(rng.integers(0, 22)):02d}"
                 if rng.random() < 0.9 else "zzz")
            op = ("eq", "=") if kind == 3 else ("ne", "<>")
            return ((op[0], "tag_n", t), f"tag_n {op[1]} '{t}'")
        if kind in (5, 6):
            vals = sorted({f"w{int(x):02d}" for x in rng.integers(0, 22, 3)})
            lst = ", ".join(f"'{v}'" for v in vals)
            if kind == 5:
                return (("in", "tag_n", vals), f"tag_n IN ({lst})")
            return (("not_in", "tag_n", vals), f"tag_n NOT IN ({lst})")
        if kind == 7:
            p = ["w0", "w1", "w", "x"][int(rng.integers(0, 4))]
            if rng.random() < 0.5:
                return (("prefix", "tag_n", p), f"tag_n LIKE '{p}%'")
            return (("not_prefix", "tag_n", p),
                    f"tag_n NOT LIKE '{p}%'")
        if kind == 8:
            s = ["0", "1", "05", "9"][int(rng.integers(0, 4))]
            if rng.random() < 0.5:
                return (("contains", "tag_n", s), f"tag_n LIKE '%{s}%'")
            return (("suffix", "tag_n", s), f"tag_n LIKE '%{s}'")
        if kind == 9:
            lo, hi = sorted([f"w{int(rng.integers(0, 22)):02d}",
                             f"w{int(rng.integers(0, 22)):02d}"])
            return (("str_between", "tag_n", lo, hi),
                    f"tag_n BETWEEN '{lo}' AND '{hi}'")
        col = ["v_n", "tag_n"][int(rng.integers(0, 2))]
        if kind == 10:
            return (("isnull", col), f"{col} IS NULL")
        return (("notnull", col), f"{col} IS NOT NULL")

    def node():
        if rng.random() < 0.45:  # OR node, branches may be AND groups
            branches, sqls = [], []
            for _ in range(int(rng.integers(2, 4))):
                if rng.random() < 0.4:
                    l1, s1 = leaf()
                    l2, s2 = leaf()
                    branches.append(("and", [l1, l2]))
                    sqls.append(f"({s1} AND {s2})")
                else:
                    l, s = leaf()
                    branches.append(l)
                    sqls.append(s)
            return ("or", branches), "(" + " OR ".join(sqls) + ")"
        return leaf()

    enc_bytes = {}
    for path in glob.glob(f"{out}/blocks/*.parquet"):
        t = pq.read_table(path, columns=["col_name", "block_idx",
                                         "enc_bytes"])
        for c, bi, eb in zip(t.column("col_name").to_pylist(),
                             t.column("block_idx").to_pylist(),
                             t.column("enc_bytes").to_pylist()):
            enc_bytes[(path, c, bi)] = eb
    n_tasks = len(table_files._query_tasks(out))
    real_fetch = table_files._fetch_payloads
    real_classify = table_files._classify_file

    def traced_scan(preds):
        """The scan run in-process: the (file, column, block) pairs it
        fetched and the class of every block its tasks kept."""
        fetched, classes, calls = set(), [], []

        def spy_fetch(path, file_sid, seg, need):
            fetched.update((path, c, bi) for c, bis in need.items()
                           for bi in bis)
            return real_fetch(path, file_sid, seg, need)

        def spy_classify(*args, **kwargs):
            plan = real_classify(*args, **kwargs)
            calls.append(plan.path)
            classes.extend(plan.cls.values())
            return plan

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(table_files, "_DRIVER_LOCAL_MAX_CELLS", 1 << 62)
            mp.setattr(table_files, "_fetch_payloads", spy_fetch)
            mp.setattr(table_files, "_classify_file", spy_classify)
            table_files.scan_table_files_where(
                spark, out, preds, columns=["k"]).collect()
        assert len(calls) == n_tasks  # one classification per task
        return fetched, classes

    duck = duckdb.connect()
    for trial in range(40):
        preds, sqls = [], []
        for _ in range(int(rng.integers(1, 4))):
            p, s = node()
            preds.append(p)
            sqls.append(s)
        where = " AND ".join(sqls)
        got = table_files.count_table_files_where(
            spark, out, preds).collect()[0]["n_rows"]
        want = duck.sql(
            f"SELECT count(*) FROM read_parquet('{src}') WHERE {where}"
        ).fetchone()[0]
        assert got == want, (trial, preds, where, got, want)
        rows = sorted(r["k"] for r in table_files.scan_table_files_where(
            spark, out, preds, columns=["k"]).collect())
        want_rows = [r[0] for r in duck.sql(
            f"SELECT k FROM read_parquet('{src}') WHERE {where} ORDER BY k"
        ).fetchall()]
        assert rows == want_rows, (trial, preds, where)
        fetched, classes = traced_scan(preds)
        [ex] = table_files.explain_scan_table_files(
            spark, out, preds, columns=["k"]).collect()
        assert ex["payload_bytes"] == sum(
            enc_bytes[f] for f in fetched), (trial, preds, where)
        assert (ex["blocks_full"], ex["blocks_partial"]) == (
            classes.count("full"), classes.count("partial")
        ), (trial, preds, where)
