"""The benchmark's closed-loop client and its two workloads.

Each workload builds its inputs from the seed in ``setup``; ``ops`` gives
cycle i: one instance of every op kind, each timed by the client and
checked against its oracle outside the timer.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
import traceback

TOKEN_ROWS = 60_000          # ~30M tokens
TOKEN_SPLITS = 16            # 4 per core
WORKLOADS = ("token_encode", "query")


def percentile_tail(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, and its
    value; (None, None) below 11 samples."""
    n = len(xs)
    if n < 11:
        return None, None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(xs)[n - 11]


class Client:
    """The closed loop: times each op, checks it outside the timer, and
    counts an exception or a wrong answer as a failure without stopping."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, kind: str, fn, check, span: str) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, kind=kind):
                got = fn()
        except Exception:
            dt = time.perf_counter() - t0
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            return dt
        dt = time.perf_counter() - t0
        self.lat.setdefault(kind, []).append(dt)
        try:
            ok, why = bool(check(got)), "wrong answer"
        except Exception:
            ok, why = False, f"check raised: {traceback.format_exc(limit=3)}"
        if not ok:
            self.failed += 1
            self.errors.append(f"{kind}: {why}")
        return dt


def kind_gmean(lat: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's geometric-mean latency:
    every kind weighs the same, however many of its ops a run completed."""
    return math.exp(statistics.fmean(
        statistics.fmean(math.log(x) for x in v) for v in lat.values() if v))


def loop(client: Client, ops, seconds: float) -> dict[str, list[float]]:
    """Issue ``ops(i)`` for cycles i = 0, 1, ...: one whole cycle, then op
    by op until ``seconds`` have passed.  Returns this
    loop's latencies by kind.  An op is ``(kind, prep, fn, check, span)``;
    ``prep`` runs untimed."""
    start = {k: len(v) for k, v in client.lat.items()}
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        for kind, prep, fn, check, span in ops(i):
            if i >= 1 and time.perf_counter() >= deadline:
                return {k: v[start.get(k, 0):] for k, v in client.lat.items()}
            if prep is not None:
                prep()
            client.op(kind, fn, check, span)
        i += 1


def blocks_digest(enc_dir: str) -> str:
    """sha256 over every block of a token-plane dataset, in split order."""
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    bdir = f"{enc_dir}/blocks"
    for name in sorted(os.listdir(bdir)):
        for blob in pq.read_table(f"{bdir}/{name}",
                                  columns=["block"]).column("block").to_pylist():
            h.update(blob)
    return h.hexdigest()


class TokenEncode:
    """Encode + verify of the token plane; the encode must be byte-identical
    across repeats and within the naive-RLE budget."""

    name = "token_encode"
    # the first encode after the cold one still runs ~20% slow
    warm_cycles = 2

    def setup(self, spark, work: str, seed: int,
              rows: int = TOKEN_ROWS) -> dict:
        import inputs

        src = f"{work}/tokens"
        n_tok = inputs.write_tokens(src, rows, seed, TOKEN_SPLITS)
        return {"src": src, "out": f"{work}/enc", "tokens": n_tok,
                "rows": rows, "ref": None}

    def encode(self, spark, ctx: dict) -> dict:
        from rlv import engine_files as EF

        return EF.encode_files_dataset(spark, ctx["src"], ctx["out"],
                                       num_tasks=TOKEN_SPLITS, resume=False)

    def check_encode(self, ctx: dict, summary: dict) -> bool:
        digest = blocks_digest(ctx["out"])
        if ctx["ref"] is None:  # the warm-up encode is the reference
            ctx["ref"] = (digest, summary["bytes_out"])
        return (summary["tokens"] == ctx["tokens"]
                and summary["bytes_out"] <= summary["naive_rle_bytes"]
                and (digest, summary["bytes_out"]) == ctx["ref"])

    def ops(self, spark, ctx: dict):
        from rlv import engine_files as EF

        encode = (
            "encode",
            lambda: shutil.rmtree(ctx["out"], ignore_errors=True),
            lambda: self.encode(spark, ctx),
            lambda s: self.check_encode(ctx, s),
            "rlv.engine_files.encode_files_dataset")
        verify = (
            "verify", None,
            lambda: EF.verify_files_dataset(spark, ctx["src"], ctx["out"],
                                            num_tasks=TOKEN_SPLITS),
            lambda v: v["mismatches"] == 0 and v["tokens"] == ctx["tokens"],
            "rlv.engine_files.verify_files_dataset")
        return lambda i: (encode, verify)

    def detail(self, client: Client, ctx: dict) -> dict:
        med = {k: statistics.median(v) for k, v in client.lat.items()}
        out = {"tokens": ctx["tokens"], "rows": ctx["rows"], "lat": client.lat,
               "bytes_per_token": ctx["ref"][1] / ctx["tokens"]}
        if "encode" in med:
            out["encode_tokens_per_s"] = ctx["tokens"] / med["encode"]
        if "verify" in med:
            out["verify_tokens_per_s"] = ctx["tokens"] / med["verify"]
        return out

    def bytes_per_value(self, ctx: dict) -> float:
        return ctx["ref"][1] / ctx["tokens"]


class Query:
    """A seeded mix of pushdown queries over the encoded lineitem table,
    answers checked against DuckDB over the source parquet."""

    name = "query"
    warm_cycles = 1

    @staticmethod
    def encode(spark, files: list[str], out: str) -> dict:
        from rlv import table_files as TF

        return TF.encode_table_files(
            spark, files, out, order_col="l_orderkey",
            int_cols=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                      "l_quantity", "l_extendedprice", "l_discount",
                      "l_shipdate"],
            str_cols=["l_returnflag", "l_linestatus"],
            rows_per_block=4096, num_tasks=len(files))

    def setup(self, spark, work: str, seed: int) -> dict:
        import duckdb

        import inputs
        import queries
        from rlv import table_files as TF

        li = inputs.lineitem_table(seed)
        li_files = inputs.write_table(li, f"{work}/li", 4)
        part_files = inputs.write_table(inputs.part_table(seed),
                                        f"{work}/part", 1)
        enc = self.encode(spark, li_files, f"{work}/li_enc")
        TF.encode_table_files(
            spark, part_files, f"{work}/part_enc", order_col="l_partkey",
            int_cols=["l_partkey", "p_size", "p_retailprice"], num_tasks=1)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW li AS SELECT * FROM "
                    f"read_parquet('{work}/li/*.parquet')")
        con.execute(f"CREATE VIEW part AS SELECT * FROM "
                    f"read_parquet('{work}/part/*.parquet')")
        pool = queries.build_pool(f"{work}/li_enc", f"{work}/part_enc", seed)
        queries.oracle(con, pool)
        return {"enc": f"{work}/li_enc", "src": f"{work}/li",
                "part_src": f"{work}/part", "pool": pool, "con": con,
                "rows": len(li), "cols": li.num_columns,
                "bytes": enc["bytes_out"] + enc["dict_bytes"],
                "files": li_files}

    def ops(self, spark, ctx: dict):
        import queries

        n = len(queries.KINDS)

        def cycle(i: int) -> list[tuple]:
            base = (i % queries.POOL) * n
            return [(q.kind, None, lambda q=q: q.run(spark),
                     lambda got, q=q: queries.check(q, got, ctx["rows"]),
                     f"rlv.table_files.{q.kind}")
                    for q in ctx["pool"][base:base + n]]
        return cycle

    def detail(self, client: Client, ctx: dict) -> dict:
        lat = [x for v in client.lat.values() for x in v]
        pct, tail = percentile_tail(lat)
        out = {"rows": ctx["rows"], "lat": client.lat,
               "query_p50_s": statistics.median(lat),
               "query_tail_s": tail, "query_tail_pct": pct,
               "query_samples": len(lat)}
        for k, v in client.lat.items():
            out[f"{k}_p50_s"] = statistics.median(v)
        return out

    def bytes_per_value(self, ctx: dict) -> float:
        return ctx["bytes"] / (ctx["rows"] * ctx["cols"])


def make_workload(name: str):
    return TokenEncode() if name == "token_encode" else Query()
