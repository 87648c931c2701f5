"""Query-layer scale drill: pushdown effectiveness on a multi-million-row
encoded table (the round-4 evidence job for SURVEY #91-112).

Builds an orders-derived table (R shifted replicas of sf0.1 orders — the
order column stays globally unique and block-clustered; `cents`,
`custkey_n` (nullable), `pri_n` (nullable, NDV 5) and `clerk` (NDV ~1000,
prefix-structured) ride along), encodes it through the files plane, then
runs the query battery and reports, for each query, wall seconds plus the
DETERMINISTIC pruning statistics (blocks/rows surviving the metadata
phase, from `zonemap_stats` / `strdict_stats`) — wall on this host swings
±15%, the pruning ratios do not.  Row counts / sums are cross-checked
against DuckDB over the same staged replica files, so the drill is also an
end-to-end correctness pass at scale.

Usage: python jobs/query_drill.py [--replicas 8]
                                  [--cpus N (default: all cores)]
                                  [--sf-dir /root/testdata/sf0.1]
Prints one JSON line (recorded in BASELINE.md "Round-4 query-layer
scale drill").
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
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work", default="/tmp/rlv_query_drill")
    ap.add_argument("--compact-target", type=int, default=None,
                    help="after the first battery, compact the dataset "
                         "to bins of this many bytes and run the whole "
                         "battery again (every cross-check re-asserts)")
    args = ap.parse_args(argv)

    import duckdb

    from rlv import table_files as TF
    from rlv.session import make_session

    work = args.work
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/src")

    # R shifted replicas: o_orderkey + r*stride keeps the order column
    # globally unique and each file internally sorted (block-clustered)
    con = duckdb.connect()
    stride = con.sql(
        f"SELECT max(o_orderkey) + 1 FROM "
        f"read_parquet('{args.sf_dir}/orders.parquet')"
    ).fetchone()[0]
    for r in range(args.replicas):
        con.sql(
            f"COPY (SELECT o_orderkey + {r * stride} AS k, "
            "CAST(o_totalprice * 100 AS BIGINT) AS cents, "
            "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END "
            "  AS custkey_n, "
            "CASE WHEN o_orderkey % 5 = 3 THEN NULL ELSE o_orderpriority "
            "  END AS pri_n, "
            "'Clerk#' || lpad(CAST(o_custkey AS VARCHAR), 6, '0') "
            "  AS clerk "
            f"FROM read_parquet('{args.sf_dir}/orders.parquet') "
            f"ORDER BY o_orderkey) TO '{work}/src/r{r:02d}.parquet' "
            "(FORMAT PARQUET)"
        )
    files = sorted(
        f"{work}/src/{f}" for f in os.listdir(f"{work}/src")
    )
    n_rows = con.sql(
        f"SELECT count(*) FROM read_parquet('{work}/src/*.parquet')"
    ).fetchone()[0]

    spark = make_session(args.cpus, app="rlv-query-drill")
    out = f"{work}/enc"
    t0 = time.monotonic()
    enc = TF.encode_table_files(
        spark, files, out,
        order_col="k",
        int_cols=["k", "cents", "custkey_n"],
        str_cols=["pri_n", "clerk"],
        rows_per_block=4096,
        num_tasks=args.cpus,
    )
    t_encode = time.monotonic() - t0

    # round-5 join leg: a dim of ~100 custkeys (distinct + attribute),
    # encoded once — the fact side's runtime filter comes from it
    dim_out = f"{work}/dim_enc"
    con.sql(
        f"COPY (SELECT DISTINCT custkey_n, "
        "CAST(custkey_n % 13 AS BIGINT) AS seg "
        f"FROM read_parquet('{work}/src/*.parquet') "
        "WHERE custkey_n BETWEEN 1000 AND 1100 ORDER BY custkey_n) "
        f"TO '{work}/dim.parquet' (FORMAT PARQUET)"
    )
    TF.encode_table_files(
        spark, [f"{work}/dim.parquet"], dim_out,
        order_col="custkey_n", int_cols=["custkey_n", "seg"],
        rows_per_block=4096, num_tasks=1,
    )

    kmax = args.replicas * stride
    res: dict = {
        "rows": int(n_rows),
        "replicas": args.replicas,
        "cpus": args.cpus,
        "encode_sec": round(t_encode, 2),
        "bytes_out": enc["bytes_out"],
        "dict_bytes": enc["dict_bytes"],
        "naive_rle_bytes": enc["naive_rle_bytes"],
        "queries": {},
    }

    qd = res["queries"]

    def timed(name, fn, want=None):
        t = time.monotonic()
        got = fn()
        dt = time.monotonic() - t
        entry = {"sec": round(dt, 2)}
        if want is not None:
            assert got == want, f"{name}: {got} != {want}"
            entry["checked"] = got
        qd[name] = entry
        return entry

    dsql = lambda q: con.sql(
        q.replace("SRC", f"read_parquet('{work}/src/*.parquet')")
    ).fetchone()

    def run_battery():
        # 1. full scan (every block decodes): the no-pruning baseline
        timed("scan_full", lambda: TF.scan_table_files_where(
            spark, out, [("between", "k", 0, kmax)],
            columns=["k", "cents"]).count(),
            want=n_rows)

        # 2. 1% range on the clustered order column
        lo, hi = kmax // 2, kmax // 2 + kmax // 100
        e = timed("scan_range_1pct", lambda: TF.scan_table_files_where(
            spark, out, [("between", "k", lo, hi)],
            columns=["k", "cents"]).count(),
            want=dsql(f"SELECT count(*) FROM SRC WHERE k BETWEEN {lo} "
                      f"AND {hi}")[0])
        zs = TF.zonemap_stats(out, "k", lo, hi)
        e["blocks_matching"] = zs["blocks_matching"]
        e["blocks_total"] = zs["blocks_total"]

        # 3. selective string equality via dictionary sidecars (clerk NDV is
        #    ~1e5, so a literal appears in O(rows_with_literal) blocks)
        lit = "Clerk#" + str(
            dsql("SELECT custkey_n FROM SRC WHERE custkey_n IS NOT NULL "
                 "ORDER BY custkey_n LIMIT 1 OFFSET 1000")[0]
        ).zfill(6)
        e = timed("scan_str_eq", lambda: TF.scan_table_files_where(
            spark, out, [("eq", "clerk", lit)],
            columns=["k", "clerk"]).count(),
            want=dsql(f"SELECT count(*) FROM SRC WHERE clerk = '{lit}'")[0])
        ss = TF.strdict_stats(out, "clerk", lit)
        e["blocks_matching"] = ss["blocks_matching"]
        e["blocks_total"] = ss["blocks_total"]

        # 4. conjunction: 10% range x IN-list x LIKE-prefix
        lo10, hi10 = 0, kmax // 10
        timed("scan_conj", lambda: TF.scan_table_files_where(
            spark, out,
            [("between", "k", lo10, hi10),
             ("in", "pri_n", ["1-URGENT", "5-LOW"]),
             ("prefix", "clerk", "Clerk#0")],
            columns=["k", "pri_n", "clerk"]).count(),
            want=dsql(f"SELECT count(*) FROM SRC WHERE k BETWEEN {lo10} AND "
                      f"{hi10} AND pri_n IN ('1-URGENT','5-LOW') AND clerk "
                      "LIKE 'Clerk#0%'")[0])

        # 4b. COUNT(*) under the same conjunction: no value column read
        timed("count_conj", lambda: TF.count_table_files_where(
            spark, out,
            [("between", "k", lo10, hi10),
             ("in", "pri_n", ["1-URGENT", "5-LOW"]),
             ("prefix", "clerk", "Clerk#0")]).collect()[0]["n_rows"],
            want=dsql(f"SELECT count(*) FROM SRC WHERE k BETWEEN {lo10} "
                      f"AND {hi10} AND pri_n IN ('1-URGENT','5-LOW') AND "
                      "clerk LIKE 'Clerk#0%'")[0])

        # 5. decode-free aggregate (full-range predicate: every block
        #    full-matches, value blocks aggregate from run lists)
        def agg_full():
            r = TF.agg_table_files_where(
                spark, out, "cents",
                [("between", "k", 0, kmax)]).collect()[0]
            return (r["n_rows"], int(r["sum_val"]))
        timed("agg_pushdown_full", agg_full,
              want=tuple(dsql("SELECT count(*), sum(cents) FROM SRC")))

        # 6. aggregate under the conjunction
        def agg_sel():
            r = TF.agg_table_files_where(
                spark, out, "cents",
                [("between", "k", lo10, hi10),
                 ("in", "pri_n", ["1-URGENT", "5-LOW"])]).collect()[0]
            return (r["n_rows"], int(r["sum_val"]))
        timed("agg_pushdown_conj", agg_sel,
              want=tuple(dsql(
                  f"SELECT count(*), sum(cents) FROM SRC WHERE k BETWEEN "
                  f"{lo10} AND {hi10} AND pri_n IN ('1-URGENT','5-LOW')")))

        # 7. top-k without a full sort
        def topk():
            rows = TF.topk_table_files(
                spark, out, "cents", 100, ascending=False,
                columns=["k", "cents"]).collect()
            return (len(rows), min(r["cents"] for r in rows))
        timed("topk_100", topk,
              want=(100, dsql("SELECT min(cents) FROM (SELECT cents FROM SRC "
                              "ORDER BY cents DESC LIMIT 100)")[0]))

        # 8. metadata-only DISTINCT (no payload byte read)
        timed("distinct_meta", lambda: TF.distinct_table_files(
            spark, out, "pri_n").count(),
            want=dsql("SELECT count(*) FROM (SELECT DISTINCT pri_n "
                      "FROM SRC)")[0])

        # 9. metadata-only ANALYZE
        timed("analyze_meta", lambda: TF.stats_table_files(spark, out).count(),
              want=5)

        # 10. OR node: validity branch x tiny range branch
        timed("scan_or_isnull", lambda: TF.scan_table_files_where(
            spark, out,
            [("or", [("isnull", "custkey_n"), ("between", "k", 0, 1000)])],
            columns=["k", "custkey_n"]).count(),
            want=dsql("SELECT count(*) FROM SRC WHERE custkey_n IS NULL OR "
                      "k BETWEEN 0 AND 1000")[0])

        # 11. (r5) OR-of-AND: one-alternation WHERE clause
        timed("scan_or_of_and", lambda: TF.scan_table_files_where(
            spark, out,
            [("or", [("and", [("between", "k", lo10, hi10),
                              ("prefix", "clerk", "Clerk#0")]),
                     ("eq", "pri_n", "1-URGENT")])],
            columns=["k", "pri_n", "clerk"]).count(),
            want=dsql(f"SELECT count(*) FROM SRC WHERE (k BETWEEN {lo10} "
                      f"AND {hi10} AND clerk LIKE 'Clerk#0%') OR "
                      "pri_n = '1-URGENT'")[0])

        # 12. (r5) LIKE-contains via dictionary sidecars ("049" hits
        # custkeys 49, 490-499, 1049, ... at every SF — selective but
        # never empty)
        timed("scan_contains", lambda: TF.scan_table_files_where(
            spark, out, [("contains", "clerk", "049")],
            columns=["k", "clerk"]).count(),
            want=dsql("SELECT count(*) FROM SRC WHERE clerk LIKE "
                      "'%049%'")[0])

        # 13. (r5) string ORDER BY top-k: threshold from sidecars alone
        def str_topk():
            rows = TF.topk_table_files(
                spark, out, "clerk", 100, ascending=False,
                columns=["k", "clerk"]).collect()
            return (len(rows), min(r["clerk"] for r in rows))
        timed("str_topk_100", str_topk,
              want=(100, dsql(
                  "SELECT min(clerk) FROM (SELECT clerk FROM SRC "
                  "ORDER BY clerk DESC LIMIT 100)")[0]))

        # 14. (r5) encoded x encoded join: the ~100-key dim pushes its
        # keys into the 9.6M-row fact scan as a runtime filter before
        # the broadcast join
        def join_inner():
            df, plan = TF.join_table_files(
                spark, out, dim_out, on="custkey_n",
                columns_a=["k", "cents"], columns_b=["seg"],
                return_plan=True,
            )
            return (df.count(), plan["runtime_filter_keys"] is not None)
        timed("join_dim_100keys", join_inner,
              want=(dsql(
                  "SELECT count(*) FROM SRC f JOIN (SELECT DISTINCT "
                  "custkey_n AS ck FROM SRC WHERE custkey_n BETWEEN "
                  "1000 AND 1100) d ON f.custkey_n = d.ck")[0], True))

        # 15. (r5) fact x fact SELF-join on the unique key: both bills
        # exceed the broadcast cap and the key NDV exceeds the runtime-
        # filter cap, so this is the pure SHUFFLE plan — the join shape
        # the DPP semi-join refuses, over two pruned scans of 9.6M rows
        lo60, hi40 = 0, int(kmax * 0.6)
        lo40 = int(kmax * 0.4)
        ff_plan = {}
        def join_fact_fact():
            df, plan = TF.join_table_files(
                spark, out, out, on="k",
                preds_a=[("between", "k", lo60, hi40)],
                preds_b=[("between", "k", lo40, kmax)],
                columns_a=["cents"], columns_b=["custkey_n"],
                broadcast_bytes=1 << 20, return_plan=True,
            )
            ff_plan.update(plan)
            # the key NDV far exceeds the cap: the rows_surviving guard
            # must skip the distinct pass outright
            return (df.count(), plan["runtime_filter_keys"] is None)
        e = timed("join_fact_fact_shuffle", join_fact_fact,
                  want=(dsql(
                      f"SELECT count(*) FROM SRC a JOIN SRC b ON a.k = "
                      f"b.k WHERE a.k BETWEEN {lo60} AND {hi40} "
                      f"AND b.k BETWEEN {lo40} AND {kmax}")[0], True))
        e["broadcast"] = ff_plan["broadcast"]  # False at drill scale

    run_battery()
    if args.compact_target:
        from rlv import engine_files

        t1 = time.monotonic()
        c = engine_files.compact_blocks(
            spark, out, target_bytes=args.compact_target)
        res["compaction"] = {
            "sec": round(time.monotonic() - t1, 2),
            "bins_written": c["bins_written"],
            "files_absorbed": c["files_absorbed"],
        }
        qd = res["queries_after_compaction"] = {}
        run_battery()

    print(json.dumps(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
