"""Regressions for the typed restore and SQL key semantics, each on both
query dispatch paths (Spark workers and the driver).

1. Typed results restore in the worker through Arrow: every value
   bit-identical to the source — NaN payloads (sign-bit NaNs too), -0.0,
   +-inf, float32, nullable int64 past 2^53 (a pandas hop would turn it
   into a lossy float64), dates and timestamps.
2. GROUP BY / DISTINCT on a float column must merge -0.0 with 0.0 and
   pool every NaN payload into one group, SQL-style.
3. date64[ms] restores timezone-free (a non-UTC session must not shift
   dates).
4. MIN/MAX and top-k rank floats in SQL order: a sign-bit NaN ranks
   above +inf, not below -inf as its total-order key does.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from test_table_files import _dispatch_paths

from rlv import table_files


def _write_src(tmp_path, cols: dict) -> str:
    d = str(tmp_path / "src")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table(cols), f"{d}/p.parquet")
    return f"{d}/p.parquet"


def test_nullable_double_restore_is_bit_identical(spark, tmp_path,
                                                  monkeypatch):
    """Scan restore of a nullable double column whose batches contain
    NULLs: every restored value bit-identical to the source.  A restore
    through pandas loses low mantissa bits here (a nullable int64 key
    Series becomes float64, lossy above 2^53): 2.718281828459045 came
    back 2.718281828459112."""
    n = 4000
    rng = np.random.default_rng(11)
    v = rng.normal(scale=10.0, size=n)
    v[0] = 2.718281828459045
    v[1] = -3.141592653589793
    v[2] = 1e-300          # subnormal-adjacent: tiny key magnitude
    v[3] = 1.7976931348623157e308
    mask = np.zeros(n, bool)
    mask[::7] = True       # NULLs interleaved in EVERY batch
    f = _write_src(tmp_path, {
        "k": pa.array(range(n), pa.int64()),
        "x": pa.array(v, pa.float64(), mask=mask),
    })
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f], out, order_col="k", int_cols=["k", "x"],
        rows_per_block=512, num_tasks=2,
    )
    want = np.where(mask, 0.0, v)
    for path in _dispatch_paths(monkeypatch):
        rows = table_files.scan_table_files_where(
            spark, out, [("between", "k", 0, n)], columns=["k", "x"]
        ).collect()
        assert len(rows) == n
        got = np.empty(n)
        gmask = np.zeros(n, bool)
        for r in rows:
            if r["x"] is None:
                gmask[r["k"]] = True
                got[r["k"]] = 0.0
            else:
                got[r["k"]] = r["x"]
        assert np.array_equal(gmask, mask), path
        assert np.array_equal(got.view(np.int64), want.view(np.int64)), \
            f"nullable double restore lost mantissa bits ({path})"


def test_float_group_and_distinct_merge_zero_and_nan(spark, tmp_path,
                                                     monkeypatch):
    """SQL grouping semantics over restored float keys: -0.0 and +0.0 one
    group, all NaN bit patterns one group; NULL keys one pooled group."""
    # two DIFFERENT NaN payloads (distinct total-order keys)
    nan_a = np.uint64(0x7FF8000000000000).view(np.float64)  # canonical
    nan_b = np.uint64(0x7FF8000000000001).view(np.float64)
    nan_c = np.uint64(0xFFF8000000000002).view(np.float64)  # negative NaN
    g = np.array([0.0, -0.0, 0.0, -0.0, nan_a, nan_b, nan_c,
                  1.5, 1.5, 0.0, nan_a, -0.0], dtype=np.float64)
    n = g.size
    mask = np.zeros(n, bool)
    mask[9] = True  # one NULL group key
    f = _write_src(tmp_path, {
        "k": pa.array(range(n), pa.int64()),
        "g": pa.array(g, pa.float64(), mask=mask),
        "v": pa.array(range(100, 100 + n), pa.int64()),
    })
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f], out, order_col="k", int_cols=["k", "g", "v"],
        rows_per_block=4, num_tasks=2,  # zeros/NaNs split across blocks
    )
    for path in _dispatch_paths(monkeypatch):
        rows = table_files.agg_table_files_by(spark, out, "v", "g").collect()
        by_key = {}
        for r in rows:
            key = ("nan" if r["g"] is not None and np.isnan(r["g"])
                   else r["g"])
            assert key not in by_key, f"duplicate group for {key!r}"
            by_key[key] = r
        assert set(by_key) == {0.0, 1.5, "nan", None}
        zr = by_key[0.0]
        assert zr["n_rows"] == 5 and str(zr["g"]) == "0.0"  # +0.0, not -0.0
        assert by_key["nan"]["n_rows"] == 4
        assert by_key[None]["n_rows"] == 1
        assert by_key[1.5]["n_rows"] == 2
        # sums stay exact through the merge
        assert int(zr["sum_val"]) == 100 + 101 + 102 + 103 + 111
        # DISTINCT merges the same way
        dv = table_files.distinct_table_files(spark, out, "g").collect()
        keys = [("nan" if r["g"] is not None and np.isnan(r["g"]) else r["g"])
                for r in dv]
        assert sorted(keys, key=lambda x: (x is None, str(x))) == \
            [0.0, 1.5, "nan", None]
        # and the kept zero is +0.0
        z = [r["g"] for r in dv if r["g"] == 0.0]
        assert len(z) == 1 and not np.signbit(z[0])
        # NDV counts the merged set
        [nd] = table_files.ndv_table_files(spark, out, "g").collect()
        assert nd["ndv"] == 3 and bool(nd["null_seen"])
        # multi-key GROUP BY normalizes each float key column too
        rows2 = table_files.agg_table_files_by(
            spark, out, "v", ["g", "k"]
        ).collect()
        zeros = [r for r in rows2 if r["g"] == 0.0]
        assert len(zeros) == 5 and all(not np.signbit(r["g"]) for r in zeros)


def test_date64_restore_is_timezone_free(spark, tmp_path, monkeypatch):
    """date64[ms] columns restore to date32 days — a session in a non-UTC
    zone must not shift any date (timestamp_millis(...).cast('date')
    did, by up to a day)."""
    import datetime as dt

    days = [dt.date(1969, 12, 31), dt.date(1970, 1, 1),
            dt.date(2020, 2, 29), dt.date(1999, 12, 31)] * 8
    n = len(days)
    f = _write_src(tmp_path, {
        "k": pa.array(range(n), pa.int64()),
        "d": pa.array(days, pa.date64()),
    })
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f], out, order_col="k", int_cols=["k", "d"],
        rows_per_block=8, num_tasks=1,
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    for path in _dispatch_paths(monkeypatch):
        try:
            spark.conf.set("spark.sql.session.timeZone",
                           "America/Los_Angeles")
            rows = table_files.scan_table_files_where(
                spark, out, [("between", "k", 0, n)], columns=["k", "d"]
            ).collect()
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
        got = {r["k"]: r["d"] for r in rows}
        assert got == {i: d for i, d in enumerate(days)}, path


def test_sign_bit_nans_rank_above_inf(spark, tmp_path, monkeypatch):
    """MIN/MAX and top-k rank floats in SQL order, checked against
    DuckDB: NaNs of either sign rank above +inf and -0.0 ties 0.0.  The
    total-order key ranks a sign-bit NaN (what 0.0/0.0 yields on x86)
    below -inf, which made it the MIN and the ascending top-k, and a
    block whose zone map starts at one must not serve MIN/MAX from
    metadata."""
    neg_nan = np.uint64(0xFFF8000000000000).view(np.float64)
    x = np.array([5, 1, neg_nan, 2, 7, neg_nan, 3, 4,
                  -0.0, 0.0, 6, neg_nan], np.float64)
    f32 = x.astype(np.float32)
    f32[[2, 5, 11]] = np.uint32(0xFFC00000).view(np.float32)
    n = x.size
    f = _write_src(tmp_path, {
        "k": pa.array(range(n), pa.int64()),
        "x": pa.array(x, pa.float64()),
        "y": pa.array(f32, pa.float32()),
    })
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f], out, order_col="k", int_cols=["k", "x", "y"],
        rows_per_block=4, num_tasks=2,
    )
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{f}')")

    def same(got, want):
        return len(got) == len(want) and all(
            (np.isnan(a) and np.isnan(b)) or a == b
            for a, b in zip(got, want))

    for path in _dispatch_paths(monkeypatch):
        for c in ("x", "y"):
            for preds in ([("between", "k", 0, n)],
                          [("between", "k", 1, 9)]):
                lo, hi = preds[0][2], preds[0][3]
                [mm] = table_files.minmax_table_files_where(
                    spark, out, c, preds).collect()
                want = duck.sql(
                    f"SELECT min({c}), max({c}) FROM t "
                    f"WHERE k BETWEEN {lo} AND {hi}").fetchone()
                assert same([mm["min_val"], mm["max_val"]], want), (
                    path, c, preds, mm, want)
            for asc, kk in ((True, 2), (False, 2), (True, 5), (False, 5)):
                got = table_files.topk_table_files(
                    spark, out, c, kk, ascending=asc, columns=["k", c],
                ).collect()
                want = duck.sql(
                    f"SELECT k, {c} FROM t ORDER BY {c} "
                    f"{'ASC' if asc else 'DESC'}, k LIMIT {kk}").fetchall()
                assert [r["k"] for r in got] == [w[0] for w in want], (
                    path, c, asc, kk, got, want)
                assert same([r[c] for r in got], [w[1] for w in want])


def test_typed_results_are_bit_exact(spark, tmp_path, monkeypatch):
    """A scan's Arrow result equals the source bit for bit on both
    dispatch paths: NaN payloads (sign-bit NaNs included), -0.0, +-inf
    and float32; nullable int64 past 2^53 and at its min/max; date32
    and date64 under a non-UTC session; timestamp[us]."""
    import datetime as dt

    n = 600
    rng = np.random.default_rng(5)
    xb = rng.integers(0, 2 ** 63, n, dtype=np.int64).view(np.uint64)
    xb[:8] = [0x7FF8000000000001, 0xFFF8000000000002, 0x8000000000000000,
              0x7FF0000000000000, 0xFFF0000000000000, 0x7FFFFFFFFFFFFFFF,
              0xFFFFFFFFFFFFFFFF, 0x0000000000000001]
    x = xb.view(np.float64)
    yb = rng.integers(0, 2 ** 32, n, dtype=np.int64).astype(np.uint32)
    yb[:5] = [0x7FC00001, 0xFFC00002, 0x80000000, 0x7F800000, 0xFF800000]
    y = yb.view(np.float32)
    i = rng.integers(-(2 ** 63), 2 ** 63 - 1, n, dtype=np.int64)
    i[:4] = [2 ** 53 + 1, -(2 ** 53) - 1, -(2 ** 63), 2 ** 63 - 1]
    imask = np.zeros(n, bool)
    imask[5::11] = True
    days = rng.integers(-30000, 30000, n).astype(np.int32)
    us = rng.integers(-(2 ** 50), 2 ** 50, n)
    src = pa.table({
        "k": pa.array(range(n), pa.int64()),
        "x": pa.array(x, pa.float64()),
        "y": pa.array(y, pa.float32()),
        "i": pa.array(i, pa.int64(), mask=imask),
        "d32": pa.array(days, pa.date32()),
        "d64": pa.array(days.astype(np.int64) * 86_400_000, pa.date64()),
        "ts": pa.array(us, pa.timestamp("us")),
    })
    f = _write_src(tmp_path, dict(zip(src.column_names, src.columns)))
    cols = src.column_names
    out = str(tmp_path / "enc")
    table_files.encode_table_files(
        spark, [f], out, order_col="k", int_cols=cols,
        rows_per_block=128, num_tasks=2,
    )

    def bits(arr, name):
        arr = arr.combine_chunks() if hasattr(arr, "combine_chunks") \
            else arr
        if name in ("x", "y"):
            return arr.to_numpy(zero_copy_only=False).view(
                np.uint64 if name == "x" else np.uint32).tolist()
        if name in ("d32", "d64"):
            arr = arr.cast(pa.date32()).cast(pa.int32())
        return arr.cast(pa.int64()).to_pylist()

    old = spark.conf.get("spark.sql.session.timeZone")
    for path in _dispatch_paths(monkeypatch):
        try:
            spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
            got = table_files.scan_table_files_where(
                spark, out, [("between", "k", 0, n)], columns=cols,
            ).toArrow().sort_by("k")
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
        assert got.num_rows == n
        assert got.schema.field("d64").type == pa.date32()
        for c in cols:
            assert bits(got.column(c), c) == bits(src.column(c), c), \
                (path, c)
        assert got.column("d64").to_pylist()[0] == \
            dt.date(1970, 1, 1) + dt.timedelta(days=int(days[0]))
