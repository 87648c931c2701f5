"""Differential sweep of the pushdown operators whose partials fold in the
calling process, or may: the aggregate, COUNT, MIN/MAX, DISTINCT, int-plane
top-k, GROUP BY and the join, each under seeded random WHERE clauses,
checked against DuckDB on both query dispatch paths.

The fact table is adversarial for pyarrow's semantics, which differ from
SQL's: a float column with NaN payloads of both signs, -0.0/0.0 and
+-inf (pyarrow's ``group_by`` splits them, ``sort_indices`` ranks them by
IEEE order, ``min_max`` skips NaN), int64 values past 2^53, a timestamp,
a date, a low-NDV and a high-NDV string and an ``index_cols`` int, every
column but the order column holding NULLs.  The dimension table repeats
and omits join keys, so joins are many-to-many, hit NULL keys and leave
LEFT rows unmatched.
"""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from test_table_files import _dispatch_paths, _random_clause

from rlv import table_files


def _nullable(rng, vals, p: float):
    """``vals`` as an Arrow array with a share ``p`` of NULLs."""
    return pa.array(vals, mask=rng.random(len(vals)) < p)


def _canon(v):
    """One result value comparable across engines: every NaN one token,
    -0.0 as 0.0, decimals as ints."""
    if isinstance(v, float):
        return "nan" if v != v else v + 0.0
    if isinstance(v, Decimal):
        return int(v)
    return v


def _rows(tbl: pa.Table, ordered: bool = False) -> list:
    """A result table as canonical row tuples (timestamps as epoch
    integers, so the session time zone plays no part), sorted unless
    ``ordered``."""
    cols = []
    for c in tbl.columns:
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.int64())
        cols.append([_canon(v) for v in c.to_pylist()])
    rows = list(zip(*cols))
    return rows if ordered else sorted(rows, key=repr)


def _tables(tmp_path, rng):
    n, m = 4000, 150
    nan_pos = np.uint64(0x7FF8000000000001).view(np.float64)
    nan_neg = np.uint64(0xFFF8000000000002).view(np.float64)
    specials = np.array([np.nan, nan_pos, nan_neg, 0.0, -0.0, np.inf,
                         -np.inf, 1.5, -2.25], np.float64)
    x = np.where(rng.random(n) < 0.5, specials[rng.integers(0, 9, n)],
                 np.round(rng.normal(size=n), 2))
    fact = pa.table({
        "k": pa.array(range(n), pa.int64()),
        "v_n": _nullable(rng, rng.integers(0, 1000, n), 0.1),
        "tag_n": _nullable(
            rng, [f"w{j:02d}" for j in rng.integers(0, 19, n)], 0.08),
        "hs": _nullable(
            rng, [f"h{j:07d}" for j in rng.integers(0, 10 ** 6, n)], 0.05),
        "big": _nullable(
            rng, (2 ** 53 + rng.integers(-3000, 3000, n)
                  * rng.choice([1, -1, 2 ** 8], n)).astype(np.int64), 0.1),
        "x": _nullable(rng, x, 0.05),
        "ts": pa.array(rng.integers(0, 400, n) * 86_400_000_000,
                       pa.timestamp("us"), mask=rng.random(n) < 0.1),
        "d": pa.array(rng.integers(-400, 400, n).astype(np.int32),
                      pa.date32(), mask=rng.random(n) < 0.1),
        "ix": _nullable(rng, rng.integers(0, 40, n), 0.1),
    })
    # keys 0-44 and w00-w25 with repeats; 3, 17 and w04 never occur
    dk = rng.integers(0, 45, m)
    dk[np.isin(dk, [3, 17])] = 5
    dt = [f"w{j:02d}" for j in rng.integers(0, 26, m)]
    dt = [t if t != "w04" else "w05" for t in dt]
    dim = pa.table({
        "dk": pa.array(range(m), pa.int64()),
        "ix": _nullable(rng, dk, 0.1),
        "tag_n": _nullable(rng, dt, 0.1),
        "dv": _nullable(rng, rng.integers(0, 100, m), 0.1),
    })
    paths = {}
    for name, tbl in (("fact", fact), ("dim", dim)):
        os.makedirs(tmp_path / name)
        paths[name] = str(tmp_path / name / "p.parquet")
        pq.write_table(tbl, paths[name])
    return paths


def test_fold_sweep_matches_sql(spark, tmp_path, monkeypatch):
    """16 random clauses that keep rows and one that keeps none; each
    runs one aggregate (an int value column, a near-2^53 one, or both in
    one pass), one COUNT, one MIN/MAX (int, float or timestamp column),
    one DISTINCT (low-NDV string, index-int or float column), one top-k
    (int, float or timestamp sort column, both directions, with and
    without the order column projected), one GROUP BY (string,
    index-int, string+index and float keys) and one join (inner and
    LEFT, on an int and on a string key), cycling through the variants,
    on the Spark workers and in this process.  Every result equals
    DuckDB's; a top-k's rows come back in ``ORDER BY`` order.
    The GROUP BY's driver-side bound covers every partial row it emits,
    and the in-process join runs exactly when the plan is tiny."""
    rng = np.random.default_rng(20261020)
    src = _tables(tmp_path, rng)
    fact, dim = str(tmp_path / "fact_enc"), str(tmp_path / "dim_enc")
    table_files.encode_table_files(
        spark, [src["fact"]], fact, order_col="k",
        int_cols=["k", "v_n", "big", "x", "ts", "d", "ix"],
        str_cols=["tag_n", "hs"], index_cols=["ix"],
        rows_per_block=256, num_tasks=2,
    )
    table_files.encode_table_files(
        spark, [src["dim"]], dim, order_col="dk",
        int_cols=["dk", "ix", "dv"], str_cols=["tag_n"],
        rows_per_block=64, num_tasks=1,
    )
    duck = duckdb.connect()
    for name in ("fact", "dim"):
        duck.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                 f"read_parquet('{src[name]}')")

    schema = table_files._load_table_schema(fact)
    tasks = table_files._query_tasks(fact)
    groups = [["tag_n"], ["ix"], ["tag_n", "ix"], ["x"]]
    for g in groups:
        bound = table_files._group_rows_bound(fact, schema, g, len(tasks))
        if g == ["x"]:
            assert bound is None  # float keys keep Spark's fold
            continue
        parts = table_files._task_batches(
            spark, fact, tasks, table_files._GroupReducer(schema, "v_n", g),
            [])
        assert bound >= parts.num_rows > 0, g

    aggs = ["v_n", "big", ["v_n", "big"]]
    extremes = ["big", "x", "ts"]
    distincts = ["tag_n", "ix", "x"]
    topks = [(c, asc, with_k) for c in ("big", "x", "ts")
             for asc in (True, False) for with_k in (True, False)]
    joins = [(key, how) for key in ("ix", "tag_n")
             for how in ("inner", "left")]
    # clauses that keep rows, then one that prunes every block
    clauses = []
    while len(clauses) < 16:
        preds, where = _random_clause(rng)
        n = duck.sql(f"SELECT count(*) FROM fact WHERE {where}").fetchone()
        if n[0]:
            clauses.append((preds, where))
    clauses.append(([("between", "v_n", 2000, 3000)],
                    "v_n BETWEEN 2000 AND 3000"))
    for trial, (preds, where) in enumerate(clauses):
        vals = aggs[trial % len(aggs)]
        ec = extremes[trial % len(extremes)]
        dc = distincts[trial % len(distincts)]
        c, asc, with_k = topks[trial % len(topks)]
        kk = int(rng.choice([1, 5, 40]))
        g = groups[trial % len(groups)]
        key, how = joins[trial % len(joins)]
        want_agg = _rows(duck.sql(" UNION ALL ".join(
            ("SELECT " + (f"'{v}', " if isinstance(vals, list) else "")
             + f"count(*), count({v}), sum({v}), min({v}), max({v}) "
             f"FROM fact WHERE {where}")
            for v in (vals if isinstance(vals, list) else [vals]))).arrow())
        want_count = _rows(duck.sql(
            f"SELECT count(*) FROM fact WHERE {where}").arrow())
        want_minmax = _rows(duck.sql(
            f"SELECT min({ec}), max({ec}) FROM fact WHERE {where}").arrow())
        want_distinct = _rows(duck.sql(
            f"SELECT DISTINCT {dc} FROM fact WHERE {where}").arrow())
        direction = "ASC" if asc else "DESC"
        want_topk = _rows(duck.sql(
            f"SELECT k, {c} FROM fact WHERE ({where}) AND {c} IS NOT NULL "
            f"ORDER BY {c} {direction}, k LIMIT {kk}").arrow(), ordered=True)
        gl = ", ".join(g)
        want_group = _rows(duck.sql(
            f"SELECT {gl}, count(*), count(v_n), sum(v_n), min(v_n), "
            f"max(v_n) FROM fact WHERE {where} GROUP BY {gl}").arrow())
        want_join = _rows(duck.sql(
            f"SELECT a.{key}, a.k, b.dv FROM (SELECT * FROM fact WHERE "
            f"{where}) a {how.upper()} JOIN dim b ON a.{key} = b.{key}"
        ).arrow())
        ctx = (trial, where, vals, ec, dc, c, asc, with_k, kk, g, key, how)
        for path in _dispatch_paths(monkeypatch):
            got = _rows(table_files.agg_table_files_where(
                spark, fact, vals, preds).toArrow())
            assert got == want_agg, (path, ctx)
            got = _rows(table_files.count_table_files_where(
                spark, fact, preds).toArrow())
            assert got == want_count, (path, ctx)
            got = _rows(table_files.minmax_table_files_where(
                spark, fact, ec, preds).toArrow())
            assert got == want_minmax, (path, ctx)
            got = _rows(table_files.distinct_table_files(
                spark, fact, dc, preds=preds).toArrow())
            assert got == want_distinct, (path, ctx)
            got = _rows(table_files.topk_table_files(
                spark, fact, c, kk, ascending=asc,
                columns=["k", c, "hs"] if with_k else [c, "tag_n"],
                preds=preds).toArrow(), ordered=True)
            if with_k:
                assert [r[:2] for r in got] == want_topk, (path, ctx)
            else:  # ties at the k-th value may pick any rows
                assert [r[0] for r in got] == [w[1] for w in want_topk], \
                    (path, ctx)
            got = _rows(table_files.agg_table_files_by(
                spark, fact, "v_n", g, preds=preds).toArrow())
            assert got == want_group, (path, ctx)
            df, plan = table_files.join_table_files(
                spark, fact, dim, on=key, preds_a=preds, columns_a=["k"],
                columns_b=["dv"], how=how, return_plan=True)
            assert _rows(df.toArrow()) == want_join, (path, ctx)
            assert plan["driver_join"] is (path == "local"), (path, ctx)


def test_join_rows_counts_the_sql_join():
    """The in-process join's output bound is exact: on random sides with
    repeated, NULL and one-sided keys, single and composite, it equals a
    nested-loop SQL count and pyarrow's own join, INNER and LEFT."""
    rng = np.random.default_rng(7)

    def side(n, name):
        return pa.table({
            "k1": pa.array(rng.integers(0, 6, n), pa.int64(),
                           mask=rng.random(n) < 0.2),
            "k2": pa.array([f"s{v}" for v in rng.integers(0, 3, n)],
                           pa.string(), mask=rng.random(n) < 0.1),
            name: pa.array(np.arange(n), pa.int64()),
        })

    for _ in range(50):
        a = side(int(rng.integers(0, 30)), "x")
        b = side(int(rng.integers(0, 30)), "y")
        for on in (["k1"], ["k2"], ["k1", "k2"]):
            for how, join_type in (("inner", "inner"), ("left", "left outer")):
                want = 0
                for r in a.to_pylist():
                    hits = sum(1 for q in b.to_pylist() if all(
                        r[c] is not None and r[c] == q[c] for c in on))
                    want += hits if hits or how == "inner" else 1
                got = table_files._join_rows(a, b, on, how)
                assert got == want == a.join(
                    b, on, join_type=join_type).num_rows, (on, how)
