"""Seeded query pools over the encoded lineitem table, each query paired
with the same question in SQL.

DuckDB answers the SQL over the source parquet in set-up (the oracle);
Spark answers it over the same parquet in the traced run (the reference
leg).  ``canon`` turns an rlv result and a DuckDB result into the same
comparable value, outside the timer.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable

import numpy as np
import pyarrow as pa

from inputs import ORDERS, PARTS, SHIP_HI

# query kinds in the order one cycle issues them: pruned ones that touch 1-3
# blocks (dispatch-bound), then ones that read most of the table
KINDS = ("count", "explain", "scan_narrow", "scan", "scan_float", "agg",
         "group", "topk", "join")
POOL = 3  # seeded instances per kind; cycle i issues instance i % POOL


@dataclass
class Query:
    kind: str
    sql: str
    run: Callable[[Any], Any]       # spark -> materialized rlv result
    canon: Callable[[Any], Any]     # rlv result -> comparable value
    want_of: Callable[[pa.Table], Any]  # DuckDB result -> comparable value
    preds: list = field(default_factory=list)
    columns: list[str] = field(default_factory=list)
    want: Any = None


def _lit(col: str, v) -> str:
    if isinstance(v, str):
        return f"TIMESTAMP '{v}'" if col == "l_shipdate" else f"'{v}'"
    return str(int(v))


def where_sql(preds) -> str:
    out = []
    for p in preds:
        op, col = p[0], p[1]
        if op == "between":
            out.append(f"{col} BETWEEN {_lit(col, p[2])} AND "
                       f"{_lit(col, p[3])}")
        elif op == "eq":
            out.append(f"{col} = {_lit(col, p[2])}")
        else:
            raise ValueError(f"no SQL form for predicate {op!r}")
    return " WHERE " + " AND ".join(out) if out else ""


def _plain(v):
    return int(v) if isinstance(v, Decimal) else v


def rows_canon(rows) -> tuple:
    """Spark Rows or DuckDB tuples -> sorted tuple of plain tuples."""
    return tuple(sorted(tuple(_plain(x) for x in r) for r in rows))


def table_canon(tbl: pa.Table) -> tuple:
    """Row count plus one digest over every column, rows sorted on all
    columns (positional, so column names do not matter)."""
    tbl = tbl.rename_columns([f"c{i}" for i in range(tbl.num_columns)])
    tbl = tbl.sort_by([(c, "ascending") for c in tbl.column_names])
    h = hashlib.sha256()
    for col in tbl.columns:
        arr = col.combine_chunks()
        if pa.types.is_timestamp(arr.type):
            arr = arr.cast(pa.int64())
        v = arr.to_numpy(zero_copy_only=False)
        h.update(v.astype(np.float64 if v.dtype.kind == "f" else np.int64)
                 .tobytes())
    return (tbl.num_rows, h.hexdigest())


def _duck_rows(t: pa.Table) -> tuple:
    return rows_canon(zip(*[c.to_pylist() for c in t.columns]))


def _topk_values(t: pa.Table) -> tuple:
    return tuple(sorted(t.column(1).to_pylist()))


def build_pool(enc: str, part_enc: str, seed: int) -> list[Query]:
    """``POOL`` seeded instances of every kind, in cycle order (kind-major
    within a cycle)."""
    from pyspark.sql import functions as F

    from rlv import table_files as TF

    rng = np.random.default_rng(seed)
    okmax = ORDERS - 1

    def narrow():
        # 200-2,500 orders = 0.8k-10k rows: 1-3 blocks of 4,096 rows
        lo = int(rng.integers(0, okmax - 2_500))
        return [("between", "l_orderkey", lo,
                 lo + int(rng.integers(200, 2_500)))]

    def wide():
        return [("between", "l_orderkey", int(rng.integers(0, okmax // 10)),
                 okmax)]

    def unclustered():
        # l_partkey is random per row: every block is partial
        lo = int(rng.integers(0, PARTS // 4))
        return [("between", "l_partkey", lo,
                 lo + int(rng.integers(5_000, 15_000)))]

    def scan_q(kind, preds, cols):
        return Query(
            kind, f"SELECT {', '.join(cols)} FROM li{where_sql(preds)}",
            lambda s: TF.scan_table_files_where(
                s, enc, preds, columns=cols).toArrow(),
            table_canon, table_canon, preds, cols)

    def agg_q(preds):
        return Query(
            "agg",
            "SELECT count(*), count(l_quantity), sum(l_quantity), "
            f"min(l_quantity), max(l_quantity) FROM li{where_sql(preds)}",
            lambda s: TF.agg_table_files_where(
                s, enc, "l_quantity", preds).collect(),
            rows_canon, _duck_rows, preds, ["l_quantity"])

    def join_q(preds):
        return Query(
            "join",
            "SELECT count(*), sum(p.p_size) FROM li l JOIN part p ON "
            f"l.l_partkey = p.l_partkey{where_sql(preds)}",
            lambda s: TF.join_table_files(
                s, enc, part_enc, on="l_partkey", preds_a=preds,
                columns_a=["l_orderkey"], columns_b=["p_size"],
            ).agg(F.count(F.lit(1)), F.sum("p_size")).collect(),
            rows_canon, _duck_rows, preds, ["l_orderkey", "l_partkey"])

    def count_q():
        preds = narrow() + [("eq", "l_returnflag",
                             str(rng.choice(["A", "N", "R"])))]
        return Query(
            "count", f"SELECT count(*) FROM li{where_sql(preds)}",
            lambda s: TF.count_table_files_where(s, enc, preds).collect(),
            rows_canon, _duck_rows, preds, [])

    def explain_q(i):
        preds = narrow()
        if i % 2:
            run = lambda s: TF.explain_agg_table_files(  # noqa: E731
                s, enc, "l_quantity", preds).collect()
        else:
            run = lambda s: TF.explain_scan_table_files(  # noqa: E731
                s, enc, preds, columns=["l_orderkey", "l_quantity"]).collect()
        # the bill is checked against the answer it prices: it must cover
        # every row, and keep at least the blocks that hold a match
        return Query(
            "explain", f"SELECT count(*) FROM li{where_sql(preds)}", run,
            lambda rows: rows[0].asDict(), _duck_rows, preds,
            ["l_orderkey", "l_quantity"])

    def group_q():
        day = int(rng.integers(SHIP_HI - 120, SHIP_HI))
        hi = str(np.datetime64(day, "D"))
        preds = [("between", "l_shipdate", "1992-01-01", hi)]
        return Query(
            "group",
            "SELECT l_returnflag, l_linestatus, count(*), count(l_quantity), "
            "sum(l_quantity), min(l_quantity), max(l_quantity) FROM li"
            f"{where_sql(preds)} GROUP BY l_returnflag, l_linestatus",
            lambda s: TF.agg_table_files_by(
                s, enc, "l_quantity", ["l_returnflag", "l_linestatus"],
                preds=preds).collect(),
            rows_canon, _duck_rows, preds,
            ["l_quantity", "l_returnflag", "l_linestatus"])

    def topk_q():
        asc = bool(rng.integers(0, 2))
        cols = ["l_orderkey", "l_extendedprice"]
        return Query(
            "topk",
            f"SELECT {', '.join(cols)} FROM li ORDER BY l_extendedprice "
            f"{'ASC' if asc else 'DESC'} LIMIT 100",
            lambda s: TF.topk_table_files(
                s, enc, "l_extendedprice", 100, ascending=asc,
                columns=cols).toArrow(),
            _topk_values, _topk_values, [], cols)

    makers = {
        "count": lambda i: count_q(),
        "explain": explain_q,
        "scan_narrow": lambda i: scan_q("scan_narrow", narrow(), [
            "l_orderkey", "l_linenumber", "l_quantity"]),
        # wide projections: each scan returns most of the table's rows
        "scan": lambda i: scan_q("scan", wide(), [
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_shipdate"]),
        "scan_float": lambda i: scan_q("scan_float", wide(), [
            "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"]),
        "agg": lambda i: agg_q(unclustered()),
        "group": lambda i: group_q(),
        "topk": lambda i: topk_q(),
        # a small lineitem side: its keys filter the dimension's scan
        "join": lambda i: join_q(narrow()),
    }
    return [makers[k](i) for i in range(POOL) for k in KINDS]


def check(q: Query, got, n_rows: int) -> bool:
    """Does rlv's answer match the oracle's?"""
    if q.kind != "explain":
        return q.canon(got) == q.want
    bill = q.canon(got)
    blocks = bill["blocks_pruned"] + bill["blocks_full"] + bill["blocks_partial"]
    matched = q.want[0][0]
    ok = bill["rows_total"] == n_rows and blocks == bill["blocks_total"]
    if "rows_surviving" in bill:
        ok = ok and bill["rows_surviving"] >= matched
    return ok and (matched == 0 or bill["blocks_full"] + bill["blocks_partial"] > 0)


def oracle(con, pool: list[Query]) -> None:
    """Fill ``want`` for every query from DuckDB over the source parquet."""
    for q in pool:
        q.want = q.want_of(con.execute(q.sql).arrow())
