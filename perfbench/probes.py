"""Per-layer measurements for the traced run.

Every traced run measures every layer, whichever workload it belongs to:
the token plane on the workload's own token table (``token_encode``) or on
a quarter-size token table of the same seed (``query``, to keep its traced
run short), and the table plane on the workload's own lineitem and query
pool (``query``) or on ones built the same way (``token_encode``).  Spans
wrap only calls into rlv made from here; in-process replays run on this
single thread.  Each Spark job runs once; in-process replays run
``REPLAYS`` times.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPLAYS = 2
# exact, seed-determined values besides the "count" metrics
EXACT = ("bytes_per_token", "bytes_per_value", "tf.bytes_per_row",
         "tf.payload_bytes", "tf.fetch_bytes")
ENCODE_STAGES = ("parquet_read", "stats", "select", "block_encode", "write")


def _timed(tracer, name: str, fn, **attrs):
    t0 = time.perf_counter()
    with tracer.span(name, **attrs):
        out = fn()
    return time.perf_counter() - t0, out


def job_floor_s(spark, tracer, reps: int = 5) -> float:
    """Median wall of an empty 4-task ``mapInArrow`` job."""
    def empty(it):
        for _ in it:
            pass
        yield from ()

    df = spark.range(0, 4, 1, 4)
    times = [_timed(tracer, "spark.empty_job",
                    lambda: df.mapInArrow(empty, "id long").collect())[0]
             for _ in range(reps)]
    return statistics.median(times)


# ------------------------------------------------------------- token plane


def _codec_docs(enc_dir: str) -> dict[str, int]:
    from rlv import blocks as B
    from rlv import engine_files as EF

    docs = {B.CODEC_NAMES[c]: 0 for c in (0, *B.INT_CODECS)}
    for hist in EF._read_manifest_pdf(enc_dir)["codec_hist"]:
        for cid, n in json.loads(hist).items():
            docs[B.CODEC_NAMES[int(cid)]] += n
    return docs


def replay_split(tctx: dict, tracer, dst: str) -> tuple[dict, bool]:
    """One encode split replayed in-process, stage by stage, exactly as
    ``engine_files`` runs it.  Returns the stage seconds (plus ``wall``)
    and whether the replayed blocks equal the encoded dataset's."""
    from rlv import engine as E
    from rlv import engine_files as EF

    man = EF._read_manifest_pdf(tctx["out"])
    rec = man.sort_values(["n_tokens", "split_id"]).iloc[-1]
    rgs: dict[str, list[int]] = {}
    for path, rg in json.loads(rec["pieces"]):
        rgs.setdefault(path, []).append(rg)
    st = dict.fromkeys(ENCODE_STAGES, 0.0)

    def stage(name, fn):
        dt, out = _timed(tracer, f"rlv.engine.{name}", fn)
        st[name] += dt
        return out

    t0 = time.perf_counter()
    with tracer.span("encode.replay_split"):
        tbl = pa.concat_tables(stage("parquet_read", lambda: [
            pq.ParquetFile(p).read_row_groups(
                r, columns=["doc_id", "tokens", "n_tok", "source"],
                use_threads=False)
            for p, r in rgs.items()])).combine_chunks()
        cols: dict[str, list] = {k: [] for k in (
            "doc_id", "source", "n_tok", "n_runs", "codec_id", "block")}
        for b in tbl.to_batches(max_chunksize=20000):
            offs, vals = E._list_offsets_values(b.column("tokens"))
            a, o = vals[offs[0]:offs[-1]], offs - offs[0]
            s = stage("stats", lambda: E._batch_doc_stats(a, o))
            (run_len, run_val, doc_run_off, n_per_doc, minv, maxv,
             runs_per_doc, maxc, ndv, distinct_vals, ndv_off,
             firsts, max_zz, zz_all) = s

            def select():
                sizes = E._codec_size_matrix(n_per_doc, minv, maxv,
                                             runs_per_doc, maxc, ndv,
                                             firsts, max_zz)
                return E._SIZE_MATRIX_IDS[sizes.argmin(axis=1)]
            chosen = stage("select", select)
            cols["block"] += stage("block_encode", lambda: E._grouped_encode(
                a, o, n_per_doc, minv, maxv, maxc, chosen, run_len, run_val,
                doc_run_off, distinct_vals, ndv_off, firsts, max_zz, zz_all))
            cols["doc_id"].append(b.column("doc_id"))
            cols["source"].append(b.column("source"))
            cols["n_tok"].append(n_per_doc.astype(np.int32))
            cols["n_runs"].append(runs_per_doc)
            cols["codec_id"].append(
                np.where(n_per_doc == 0, 0, chosen).astype(np.int32))

        def write():
            lens = np.fromiter(map(len, cols["block"]), np.int64)
            runs = np.concatenate(cols["n_runs"])
            pq.write_table(pa.table({
                "doc_id": pa.concat_arrays(cols["doc_id"]),
                "source": pa.concat_arrays(cols["source"]),
                "n_tok": np.concatenate(cols["n_tok"]),
                "n_runs": runs,
                "codec_id": np.concatenate(cols["codec_id"]),
                "block": pa.array(cols["block"], pa.binary()),
                "enc_bytes": lens,
                "naive_bytes": 16 * runs,
            }), dst, compression="zstd")
        stage("write", write)
    st["wall"] = time.perf_counter() - t0
    want = pq.read_table(f"{tctx['out']}/blocks/{rec['split_id']}.parquet",
                         columns=["block"]).column("block").to_pylist()
    return st, want == cols["block"]


def token_layers(spark, tctx: dict, tracer, work: str, m: dict,
                 errors: list) -> None:
    from rlv import blocks as B
    from rlv import engine_files as EF

    import workloads as W

    wl = W.TokenEncode()
    plan = [_timed(tracer, "rlv.engine_files.plan_splits",
                   lambda: EF.plan_splits(tctx["src"], W.TOKEN_SPLITS))[0]
            for _ in range(5)]
    m["engine_files.plan_splits_s"] = (statistics.median(plan), "s")
    shutil.rmtree(tctx["out"], ignore_errors=True)
    dt, s = _timed(tracer, "rlv.engine_files.encode_files_dataset",
                   lambda: wl.encode(spark, tctx))
    if not wl.check_encode(tctx, s):
        errors.append("probe encode: budget or byte-determinism broken")
    tctx["encode_job_s"] = dt
    m["engine_files.encode_job_s"] = (dt, "s")
    dt, v = _timed(tracer, "rlv.engine_files.verify_files_dataset",
                   lambda: EF.verify_files_dataset(
                       spark, tctx["src"], tctx["out"],
                       num_tasks=W.TOKEN_SPLITS))
    if v["mismatches"]:
        errors.append(f"probe verify: {v['mismatches']} mismatches")
    m["engine_files.verify_job_s"] = (dt, "s")
    cpu = EF._read_manifest_pdf(tctx["out"])["encode_cpu_ns"].to_numpy()
    m["engine_files.split_cpu_imbalance"] = (cpu.max() / cpu.mean(), "ratio")
    for name, n in _codec_docs(tctx["out"]).items():
        m[f"encode.codec_docs.{name}"] = (n, "count")
    m["bytes_per_token"] = (tctx["ref"][1] / tctx["tokens"], "B/token")

    reps = []
    for r in range(REPLAYS):
        st, same = replay_split(tctx, tracer, f"{work}/replay.parquet")
        if not same:
            errors.append("replayed split blocks differ from the job's")
        reps.append(st)
    # stages and shares all come from the replay with the median wall, so
    # the shares and the unattributed remainder add up to 1
    mid = sorted(reps, key=lambda r: r["wall"])[len(reps) // 2]
    wall = mid["wall"]
    covered = 0.0
    for s in ENCODE_STAGES:
        covered += mid[s]
        m[f"encode.{s}_s"] = (mid[s], "s")
        m[f"encode.{s}.share"] = (mid[s] / wall, "ratio")
    m["encode.unattributed_share"] = (1.0 - covered / wall, "ratio")
    if covered / wall < 0.9:
        errors.append(f"encode stages cover {covered / wall:.1%} of the "
                      "replayed split, below 90%")

    bdir = f"{tctx['out']}/blocks"
    dec, n_tok = 0.0, 0
    for name in sorted(os.listdir(bdir)):
        t = pq.read_table(f"{bdir}/{name}", columns=["n_tok", "block"])
        blobs = t.column("block").to_pylist()
        sizes = t.column("n_tok").to_numpy()
        dt, _ = _timed(tracer, "rlv.blocks.decode_blocks_batch",
                       lambda: B.decode_blocks_batch(blobs, np.int32,
                                                     expected=sizes))
        dec += dt
        n_tok += int(sizes.sum())
    m["blocks.decode_tokens_per_s"] = (n_tok / dec, "tokens/s")


# ------------------------------------------------------------- table plane


def _surviving(path: str, preds: list, schema: dict) -> set[int] | None:
    """Zone-map classification of one file's blocks: the block indexes an
    int ``between`` conjunction keeps (None = no such predicate)."""
    from rlv import table_files as TF

    keep = None
    for p in preds:
        if p[0] != "between":
            continue
        lo = TF._plane_literal(schema, p[1], p[2], "lo")
        hi = TF._plane_literal(schema, p[1], p[3], "hi")
        t = pq.read_table(path, columns=["block_idx", "min_val", "max_val"],
                          filters=[("col_name", "=", p[1])])
        mn = t.column("min_val").to_numpy()
        mx = t.column("max_val").to_numpy()
        ok = set(t.column("block_idx").to_numpy()[(mx >= lo) & (mn <= hi)]
                 .tolist())
        keep = ok if keep is None else keep & ok
    return keep


def read_path(spark, q, enc: str, cpus: int, tracer) -> dict:
    """The projected columns' surviving blocks of one scan query, replayed
    in-process: classify -> fetch -> decode -> restore, against the
    query's own wall."""
    from rlv import blocks as B
    from rlv import table_files as TF

    schema = TF._load_table_schema(enc)
    files = TF._live_block_files(enc)
    st = dict.fromkeys(("classify", "fetch", "decode", "restore"), 0.0)
    fetch_bytes = rows = 0
    for path in files:
        dt, keep = _timed(tracer, "tf.classify",
                          lambda: _surviving(path, q.preds, schema))
        st["classify"] += dt
        dt, t = _timed(tracer, "tf.fetch", lambda: pq.read_table(
            path, columns=["col_name", "block_idx", "n_values", "block"],
            filters=[("col_name", "in", q.columns)]))
        st["fetch"] += dt
        names = t.column("col_name").to_pylist()
        bidx = t.column("block_idx").to_numpy()
        for c in q.columns:
            sel = [i for i, n in enumerate(names)
                   if n == c and (keep is None or int(bidx[i]) in keep)]
            blobs = [t.column("block")[i].as_py() for i in sel]
            nv = t.column("n_values").to_numpy()[sel]
            fetch_bytes += sum(len(b) for b in blobs)
            dt, (vals, _, valid) = _timed(
                tracer, "rlv.blocks.decode_blocks_batch_nullable",
                lambda: B.decode_blocks_batch_nullable(blobs, np.int64,
                                                       expected=nv))
            st["decode"] += dt
            rows += int(nv.sum())
            arr = pa.array(vals, pa.int64(),
                           mask=None if valid.all() else ~valid)
            dt, _ = _timed(tracer, "rlv.table_files._restore_plane",
                           lambda: TF._restore_plane(
                               arr, schema["int_col_types"].get(c)))
            st["restore"] += dt
    wall, result = _timed(tracer, f"rlv.table_files.{q.kind}",
                          lambda: q.run(spark))
    par = min(len(files), cpus)
    return {**st, "fetch_bytes": fetch_bytes, "rows": rows, "wall": wall,
            "result_bytes": result.nbytes,
            "unattributed": 1.0 - sum(st.values()) / (wall * par)}


def table_layers(spark, qwl, qctx: dict, tracer, work: str, cpus: int,
                 m: dict, errors: list) -> None:
    import queries
    from rlv import table_files as TF

    enc, con = qctx["enc"], qctx["con"]
    first = qctx["pool"][:len(queries.KINDS)]  # one instance per kind
    m["tf.encode_s"] = (_timed(
        tracer, "rlv.table_files.encode_table_files",
        lambda: qwl.encode(spark, qctx["files"], f"{work}/tf_encode"))[0], "s")
    m["tf.bytes_per_row"] = (qctx["bytes"] / qctx["rows"], "B/row")

    cls = []
    for q in qctx["pool"]:
        for p in q.preds:
            if p[0] == "between":
                fn = lambda p=p: TF.zonemap_stats(enc, p[1], p[2], p[3])  # noqa: E731
                name = "rlv.table_files.zonemap_stats"
            else:
                fn = lambda p=p: TF.strdict_stats(enc, p[1], p[2])  # noqa: E731
                name = "rlv.table_files.strdict_stats"
            cls.append(_timed(tracer, name, fn)[0])
    m["tf.classify_s"] = (statistics.median(cls), "s")

    bill = dict.fromkeys(("blocks_pruned", "blocks_full", "blocks_partial",
                          "payload_bytes", "rows_surviving"), 0)
    rows_out = 0
    for q in first:
        preds = q.preds or [("notnull", "l_orderkey")]
        cols = [c for c in q.columns if c not in ("l_returnflag",
                                                  "l_linestatus")] or None
        _, rows = _timed(tracer, "rlv.table_files.explain_scan_table_files",
                         lambda: TF.explain_scan_table_files(
                             spark, enc, preds, columns=cols).collect())
        for k in bill:
            bill[k] += int(rows[0][k])
        rows_out += con.execute(
            f"SELECT count(*) FROM li{queries.where_sql(q.preds)}"
        ).fetchone()[0]
    for k in ("blocks_pruned", "blocks_full", "blocks_partial"):
        m[f"tf.{k}"] = (bill[k], "count")
    m["tf.payload_bytes"] = (bill["payload_bytes"], "B")
    m["tf.rows_out"] = (rows_out, "count")
    m["tf.rows_decoded"] = (bill["rows_surviving"], "count")
    m["tf.rows_out_per_row_decoded"] = (
        rows_out / max(bill["rows_surviving"], 1), "ratio")

    rp = [read_path(spark, q, enc, cpus, tracer)
          for q in first if q.kind in ("scan", "scan_float")]
    for k, unit in (("fetch", "s"), ("decode", "s"), ("restore", "s")):
        m[f"tf.{k}_s"] = (sum(r[k] for r in rp), unit)
    m["tf.fetch_bytes"] = (sum(r["fetch_bytes"] for r in rp), "B")
    m["tf.result_bytes"] = (sum(r["result_bytes"] for r in rp), "B")
    m["tf.unattributed_share"] = (
        statistics.median(r["unattributed"] for r in rp), "ratio")
    m["blocks.decode_rows_per_s"] = (
        sum(r["rows"] for r in rp) / sum(r["decode"] for r in rp), "rows/s")

    spark.read.parquet(qctx["src"]).createOrReplaceTempView("li")
    spark.read.parquet(qctx["part_src"]).createOrReplaceTempView("part")
    sp, dk = [], []
    for q in first:
        sp.append(_timed(tracer, "baseline.spark_parquet",
                         lambda: spark.sql(q.sql).toArrow(), kind=q.kind)[0])
        dk.append(_timed(tracer, "baseline.duckdb",
                         lambda: con.execute(q.sql).arrow(), kind=q.kind)[0])
    m["baseline.spark_parquet_s"] = (statistics.median(sp), "s")
    m["baseline.duckdb_s"] = (statistics.median(dk), "s")


# --------------------------------------------------------------------- all


def layers(spark, wl, ctx: dict, tracer, seed: int, work: str, cpus: int,
           errors: list) -> tuple[dict, dict]:
    """Every per-layer metric as ``{name: (value, unit)}``, plus the token
    context the 1-core scaling leg re-encodes."""
    import workloads as W

    m: dict = {"spark.job_floor_s": (job_floor_s(spark, tracer), "s")}
    if wl.name == "token_encode":
        tctx = ctx
    else:
        tctx = W.TokenEncode().setup(spark, f"{work}/probe_tokens", seed,
                                     rows=W.TOKEN_ROWS // 4)
    token_layers(spark, tctx, tracer, work, m, errors)
    if wl.name != "token_encode":
        qwl, qctx = wl, ctx
    else:
        qwl = W.Query()
        qctx = qwl.setup(spark, f"{work}/probe_table", seed)
    table_layers(spark, qwl, qctx, tracer, work, cpus, m, errors)
    return m, tctx


def scaling_1_4(spark, tctx: dict, tracer, make_session, cpus: int) -> float:
    """One ``local[1]`` encode against the ``local[cpus]`` median: the
    per-core efficiency of going from 1 core to ``cpus`` (1.0 = linear; 4
    cores on the reference host).  Stops ``spark`` and returns the
    efficiency; the 1-core session is stopped before returning."""
    import workloads as W

    spark.stop()
    one = make_session(1)
    try:
        job_floor_s(one, tracer, reps=1)  # boots the Python worker
        shutil.rmtree(tctx["out"], ignore_errors=True)
        t1, _ = _timed(tracer, "rlv.engine_files.encode_files_dataset.1core",
                       lambda: W.TokenEncode().encode(one, tctx))
    finally:
        one.stop()
    return t1 / (cpus * tctx["encode_job_s"])


def code_digest(root: str) -> str:
    """sha256 over the code under test (``rlv/``) and the benchmark's own
    files, by relative path and content."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for path in sorted(glob.glob(f"{root}/rlv/**/*.py", recursive=True)
                       + glob.glob(f"{here}/*.py")):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def check_counts(out_dir: str, name: str, metrics: dict,
                 errors: list) -> None:
    """Exact counts must repeat between runs of one seed of the same code:
    the first such run in a checkout records them under ``name`` (which
    holds the code digest), later ones compare (a mismatch is an error)."""
    counts = {k: v for k, (v, unit) in metrics.items()
              if unit == "count" or k in EXACT}
    path = f"{out_dir}/counts-{name}.json"
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        diff = {k: (prev.get(k), v) for k, v in counts.items()
                if k in prev and prev[k] != v}
        if diff:
            errors.append(f"exact counts changed between runs: {diff}")
        return
    os.makedirs(out_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump(counts, f)
