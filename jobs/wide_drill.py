"""Wide-table projection-pruning drill: evidence that per-column IO is
independent of table WIDTH over the encoded format.

Builds an orders-derived table of `--cols` int value columns (plus the
clustered order column), encodes it through the files plane with the
row-group-per-(split_seq, col_name) layout, and measures:

  * `agg_1col`   — SELECT count/sum/min/max of ONE value column
  * `agg_all`    — the same aggregate over EVERY value column (one
                   predicate pass, `agg_table_files_where` multi-column)
  * `scan_2col`  — a 1%-range projection scan of (order, one value)

Each is DuckDB-cross-checked on the staged source.  The scale claim
under test: a 1-column aggregate must cost ~1/cols of the all-column
one, because a column-filtered payload read decompresses only that
column's row groups — with a single-row-group layout it would pay the
whole file per read, making width a hidden multiplier on every query.
`explain`-style exact payload accounting (`payload_1col` /
`payload_all`, the summed enc_bytes the aggregates decode) is reported
alongside wall time: wall on this host swings ±15%, the byte ratio is
deterministic and is the claim.

Usage: python jobs/wide_drill.py [--replicas 8] [--cols 24]
                                 [--cpus N (default: all cores)]
Prints one JSON line (recorded in BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--replicas", type=int, default=8)
    ap.add_argument("--cols", type=int, default=24)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work", default="/tmp/rlv_wide_drill")
    args = ap.parse_args(argv)

    import duckdb

    from rlv import table_files as TF
    from rlv.session import make_session

    work = args.work
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/src")

    con = duckdb.connect()
    stride = con.sql(
        f"SELECT max(o_orderkey) + 1 FROM "
        f"read_parquet('{args.sf_dir}/orders.parquet')"
    ).fetchone()[0]
    # v00..vNN: distinct deterministic int derivations so every column
    # encodes its own blocks (mix of clustered, scattered, low-NDV)
    derivs = [
        f"(o_orderkey * {3 + 2 * i} + o_custkey % {97 + i}) "
        f"% {100000 + 7 * i} AS v{i:02d}"
        for i in range(args.cols)
    ]
    for r in range(args.replicas):
        con.sql(
            f"COPY (SELECT o_orderkey + {r * stride} AS k, "
            + ", ".join(derivs)
            + f" FROM read_parquet('{args.sf_dir}/orders.parquet') "
            f"ORDER BY o_orderkey) TO '{work}/src/r{r:02d}.parquet' "
            "(FORMAT PARQUET)"
        )
    files = sorted(f"{work}/src/{f}" for f in os.listdir(f"{work}/src"))
    n_rows = con.sql(
        f"SELECT count(*) FROM read_parquet('{work}/src/*.parquet')"
    ).fetchone()[0]
    vcols = [f"v{i:02d}" for i in range(args.cols)]

    spark = make_session(args.cpus, app="rlv-wide-drill")
    out = f"{work}/enc"
    t0 = time.monotonic()
    enc = TF.encode_table_files(
        spark, files, out,
        order_col="k", int_cols=["k", *vcols], str_cols=[],
        rows_per_block=4096, num_tasks=args.cpus,
    )
    t_encode = time.monotonic() - t0

    kmax = args.replicas * stride
    dsql = lambda q: con.sql(
        q.replace("SRC", f"read_parquet('{work}/src/*.parquet')")
    ).fetchone()

    res: dict = {
        "rows": int(n_rows), "cols": args.cols,
        "replicas": args.replicas, "cpus": args.cpus,
        "encode_sec": round(t_encode, 2),
        "bytes_out": enc["bytes_out"],
        "naive_rle_bytes": enc["naive_rle_bytes"],
        "queries": {},
    }

    def timed(name, fn, want=None):
        t = time.monotonic()
        got = fn()
        entry = {"sec": round(time.monotonic() - t, 2)}
        if want is not None:
            assert got == want, f"{name}: {got} != {want}"
            entry["checked"] = got
        res["queries"][name] = entry
        return entry

    # exact decode bills from EXPLAIN (metadata only, deterministic)
    e1 = TF.explain_scan_table_files(
        spark, out, [("between", "k", 0, kmax)], columns=[vcols[0]]
    ).collect()[0]
    ea = TF.explain_scan_table_files(
        spark, out, [("between", "k", 0, kmax)], columns=vcols
    ).collect()[0]
    res["payload_1col"] = int(e1["payload_bytes"])
    res["payload_all"] = int(ea["payload_bytes"])
    res["payload_ratio"] = round(
        res["payload_all"] / max(res["payload_1col"], 1), 2
    )

    def agg(cols):
        rows = TF.agg_table_files_where(
            spark, out, list(cols), [("between", "k", 0, kmax)]
        ).collect()
        return sorted(
            (r["val_col"], r["n_vals"], int(r["sum_val"])) for r in rows
        )

    timed("agg_1col", lambda: agg([vcols[0]]),
          want=[(vcols[0],) + dsql(
              f"SELECT count({vcols[0]}), sum({vcols[0]}) FROM SRC")])
    timed("agg_all", lambda: agg(vcols),
          want=sorted(
              (c,) + dsql(f"SELECT count({c}), sum({c}) FROM SRC")
              for c in vcols
          ))
    lo, hi = kmax // 2, kmax // 2 + kmax // 100
    timed("scan_2col", lambda: TF.scan_table_files_where(
        spark, out, [("between", "k", lo, hi)],
        columns=["k", vcols[0]]).count(),
        want=dsql(f"SELECT count(*) FROM SRC WHERE k BETWEEN {lo} "
                  f"AND {hi}")[0])

    print(json.dumps(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
