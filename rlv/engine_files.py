"""Python-native scan path: Spark schedules, pyarrow reads, numpy encodes.

A DataFrame pipeline (``mapInArrow`` over a token DataFrame) ships every
token through InternalRow -> Arrow -> Python and back.  For a codec engine the
tokens are opaque payload: the JVM adds serialization cost and nothing else.
This module, the token plane's one writer, keeps Spark as the *scheduler*
(task distribution, retries, barrier-free scaling) but moves the data plane
entirely into the Python workers:

* the driver reads parquet footers only (row-group count/byte sizes — the same
  metadata an Iceberg scan-task planner uses),
* LPT bin-packs row-groups into splits by byte size (skew handling without a
  shuffle: a 100 TB job never moves a token between executors),
* each split's row groups are read with pyarrow (C++ parquet reader),
  encoded with the :mod:`rlv.engine` batch kernels, and written as the
  split's blocks parquet file directly — the JVM never touches a token,
* the work/lineage/resume unit is the *split*: deterministic ``split_id`` from
  the row-group list, deterministic output file name, atomic rename on finish;
  retries overwrite with byte-identical content (uniqueness law,
  rl_encoding.v:1524-1538),
* every job dispatches through one runner, :func:`run_file_job`: the
  driver builds a typed Arrow table of task rows (split id and lineage,
  file, bin, segment), Spark runs a ``spark.range`` of the task ids,
  and one ``mapInArrow`` stage hands each Python task its rows as typed
  dicts and ships back the worker's Arrow result batch — no pandas frame
  on either side,
* the batch encode and its verify run at most ``defaultParallelism``
  Python tasks, each over a contiguous, equal-count run of the
  byte-balanced :func:`plan_splits` splits (``packed``), so the fixed
  cost of a Spark Python task is paid once per slot, not once per split;
  every other job (streaming encode, decode, count-runs, sampling,
  compaction, query dispatch) runs one Spark task per split, file, bin
  or query task.

Measured on a 32-core host: ~2x the throughput of the through-JVM pipeline
this module replaced.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

SPLIT_MANIFEST_SCHEMA = (
    "split_id string, status string, n_docs bigint, n_tokens bigint, "
    "n_runs bigint, bytes_in bigint, bytes_out bigint, naive_rle_bytes bigint, "
    "codec_hist string, encode_cpu_ns bigint, tokens_per_cpu_sec double, "
    "attempt int, finished_at double, pieces string"
)

RESULT_SCHEMA = (
    "split_id string, n_docs bigint, n_tokens bigint, n_runs bigint, "
    "bytes_out bigint, naive_rle_bytes bigint, codec_hist string, "
    "encode_cpu_ns bigint"
)


@functools.lru_cache(maxsize=256)
def _arrow_schema(ddl: str):
    """``(StructType, pyarrow.Schema)`` of a job's output DDL: the one
    schema definition Python workers type their batches with (Spark's
    Arrow mapping — int widths, ``date32``, UTC microsecond timestamps,
    ``decimal128``).  Cached: parsing a DDL is a JVM round trip (~3 ms),
    a real share of a tiny plan's wall; callers never mutate the
    result."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def run_file_job(spark: SparkSession, tasks: pa.Table, worker, ddl: str,
                 packed: bool = False) -> DataFrame:
    """Run ``worker`` over every task row of ``tasks`` in Spark's Python
    workers, as a lazy DataFrame of ``ddl`` — the one dispatch of every
    files-plane job and of query dispatch.

    Each task is a dict of the row's typed values (``None`` for a null);
    ``worker(task)`` returns its result as an Arrow batch of ``ddl``, or
    as a list of row dicts that the runner types with the DDL's Arrow
    schema.  Every Python task tunes malloc first
    (:func:`rlv.util.tune_malloc`).

    The relation is ``spark.range`` over the task ids — shuffle-free and
    JVM-only — with one partition per task,
    or, when ``packed``, at most one per task slot
    (``defaultParallelism``), each running its contiguous share of the
    tasks one after another in one Python task.  A Spark Python task has
    a fixed dispatch cost (~0.1 s of executor run time for a few ms of
    worker code on a 4-core host), so one task per unit pays it once per
    unit.  Pack only units that are balanced: :func:`plan_splits` splits
    are LPT-balanced by bytes, so equal-count runs of them are balanced
    too; per-file stream splits, blocks files, compaction bins and query
    tasks are not.  The slot count is the cores registered when the job
    is submitted, so packing assumes a fixed-size cluster: under dynamic
    allocation a job's backlog of pending tasks is what asks for
    executors, so there every unit keeps its own task.  A failed task
    re-runs its whole run of units; every output is written under an
    ``.inprogress`` name and renamed, its bytes deterministic, and
    manifests merge only after the job returns, so a retry stays
    idempotent.  The task rows ride to the workers with ``worker``
    itself, and each Python task looks its rows up by id, so no task
    value becomes a plan literal: as array literals they cost ~50 ms of
    driver round trips to build and ~20 ms to evaluate per job (4 tasks,
    4-core host)."""
    n = k = tasks.num_rows
    if packed:
        sc = spark.sparkContext
        dynamic = sc.getConf().get("spark.dynamicAllocation.enabled", "false")
        if dynamic.lower() != "true":
            k = min(n, sc.defaultParallelism)
    struct, schema = _arrow_schema(ddl)
    rows = tasks.to_pylist()

    def run(batches):
        from rlv.util import tune_malloc

        tune_malloc()
        for b in batches:
            for i in b.column("id").to_pylist():
                out = worker(rows[i])
                yield (out if isinstance(out, pa.RecordBatch)
                       else pa.RecordBatch.from_pylist(out, schema=schema))

    # spark.range slices the task ids into k contiguous, equal-count runs
    # (sizes differ by at most one), so the partitions concatenated in
    # partition order are the tasks in table order
    return spark.range(0, n, 1, k).mapInArrow(run, struct)


def _split_tasks(splits: list[dict]) -> pa.Table:
    """``(split_id, pieces)`` task table of a split list, ``pieces`` as
    JSON."""
    return pa.table({
        "split_id": pa.array([s["split_id"] for s in splits], pa.string()),
        "pieces": pa.array([json.dumps(s["pieces"]) for s in splits],
                           pa.string()),
    })


def plan_splits(input_dir: str, num_tasks: int) -> list[dict]:
    """Row-group-level scan planning from parquet footers (driver-only IO).

    Returns ``num_tasks``-ish splits, each a list of (file, row_group) pieces,
    LPT-balanced by compressed byte size: a skewed row group fills a split
    alone instead of hiding inside one with ordinary row groups.
    """
    files = [
        os.path.join(input_dir, name)
        for name in sorted(os.listdir(input_dir))
        if name.endswith(".parquet")
    ]
    return plan_splits_for_files(files, num_tasks)


def plan_splits_for_files(files: list[str], num_tasks: int) -> list[dict]:
    """Split planning over an explicit file list (streaming micro-batches
    hand us exactly the new files).

    Footer reads run on a thread pool: they are IO-bound metadata stats, and
    a serial loop is minutes of driver dead time at the 10^5-10^6 files a
    100 TB table holds.  The result is order-independent (pieces are sorted
    before binning), so planning stays deterministic."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def footer(path: str) -> list[tuple[str, int, int]]:
        meta = pq.ParquetFile(path).metadata
        return [
            (path, rg, meta.row_group(rg).total_byte_size)
            for rg in range(meta.num_row_groups)
        ]

    ordered = sorted(files)
    if len(ordered) > 1:
        with ThreadPoolExecutor(max_workers=min(32, len(ordered))) as ex:
            per_file = list(ex.map(footer, ordered))
    else:
        per_file = [footer(p) for p in ordered]
    pieces: list[tuple[str, int, int]] = []  # (path, rg_index, nbytes)
    for lst in per_file:
        pieces.extend(lst)
    pieces.sort(key=lambda p: (-p[2], p[0], p[1]))
    n = min(num_tasks, max(len(pieces), 1))
    buckets: list[list[tuple[str, int]]] = [[] for _ in range(n)]
    loads = [0] * n
    for path, rg, nbytes in pieces:
        b = loads.index(min(loads))
        buckets[b].append((path, rg))
        loads[b] += nbytes
    splits = []
    for bucket, load in zip(buckets, loads):
        if not bucket:
            continue
        key = json.dumps(sorted(bucket), sort_keys=True).encode()
        split_id = hashlib.sha1(key).hexdigest()[:16]
        # "bytes" = planned compressed-byte load (LPT balance evidence; not
        # part of the split identity)
        splits.append(
            {"split_id": split_id, "pieces": sorted(bucket), "bytes": load}
        )
    return splits


def _resolve_codec_ids(disable_codecs) -> tuple[int, ...]:
    """Codec names or ids -> ids (for the selector candidate mask).  Only
    selector CANDIDATES are maskable; typos and non-candidate codecs
    (strdict, fsst, nullw, ...) fail with the valid set spelled out."""
    from rlv import blocks as B

    valid = {B.CODEC_NAMES[c]: c for c in B.INT_CODECS}
    out = []
    for c in disable_codecs or ():
        cid = valid.get(c) if isinstance(c, str) else int(c)
        if cid not in B.INT_CODECS:
            raise ValueError(
                f"disable_codecs: {c!r} is not a selector candidate; "
                f"valid: {sorted(valid)} (or ids {list(B.INT_CODECS)})"
            )
        out.append(int(cid))
    return tuple(out)


def _make_split_worker(
    out_blocks_dir: str,
    string_cols: tuple[str, ...] = (),
    symbols: list[bytes] | None = None,
    disable_codecs: tuple[int, ...] = (),
):
    from rlv.engine import _make_encode_arrow_batches

    _encode_arrow_batches = _make_encode_arrow_batches(tuple(disable_codecs))

    def run_split(task: dict) -> list[dict]:
        import pyarrow.parquet as pq

        from rlv import blocks as B

        split_id = task["split_id"]
        pieces = json.loads(task["pieces"])
        t0 = time.perf_counter_ns()
        out_batches: list[pa.RecordBatch] = []
        str_parts: dict[str, list] = {c: [] for c in string_cols}
        by_file: dict[str, list[int]] = {}
        for path, rg in pieces:
            by_file.setdefault(path, []).append(rg)
        for path, rgs in by_file.items():
            pf = pq.ParquetFile(path)
            tbl = pf.read_row_groups(
                rgs, columns=["doc_id", "tokens", "n_tok", "source"],
                use_threads=False,
            )
            for c in string_cols:
                str_parts[c].extend(tbl.column(c).chunks)
            # a zero-row file still yields one empty batch, so an all-empty
            # split encodes to an empty blocks file of the full schema
            batches = tbl.combine_chunks().to_batches(max_chunksize=20000)
            for b in batches or [pa.RecordBatch.from_pylist([], tbl.schema)]:
                out_batches.extend(_encode_arrow_batches(iter([b])))
        cpu_ns = time.perf_counter_ns() - t0
        out = pa.Table.from_batches(out_batches)
        if string_cols:
            # string columns go through the engine's own codec
            # (STRDICT, optionally with the corpus FSST table) into a
            # per-split sidecar; the plain column is dropped from the
            # blocks file — per-column encoding, not parquet's
            out = out.drop_columns(list(string_cols))
            srows = {
                "col_name": [], "n_values": [], "enc_bytes": [],
                "raw_bytes": [], "block": [],
            }
            import pyarrow.compute as pc

            for c in string_cols:
                arr = (
                    pa.concat_arrays(str_parts[c])
                    if str_parts[c]
                    else pa.array([], pa.string())
                )
                if arr.null_count:
                    raise ValueError(
                        f"split {split_id}: column {c!r} contains "
                        "NULLs — the string codec stores values, not "
                        "validity; filter or fill before encoding"
                    )
                blk = B.encode_strings(arr, symbols)
                # inline roundtrip check, same discipline as
                # strings_pass: a sidecar that cannot decode back
                # bit-identically must fail the task, not be written
                # (whole-column Arrow equality, no per-row Python)
                want = arr.cast(pa.binary())
                back = B.decode_strings_arrow(blk, symbols)
                ok = len(back) == len(want) and (
                    len(want) == 0
                    or bool(pc.all(pc.equal(back, want)).as_py())
                )
                if not ok:
                    raise ValueError(
                        f"split {split_id}: STRDICT roundtrip "
                        f"mismatch on column {c!r}"
                    )
                srows["col_name"].append(c)
                srows["n_values"].append(len(arr))
                srows["enc_bytes"].append(len(blk))
                srows["raw_bytes"].append(
                    int(
                        pc.sum(pc.binary_length(want)).as_py() or 0
                    )
                )
                srows["block"].append(blk)
            sdir = os.path.join(
                os.path.dirname(out_blocks_dir), "strings"
            )
            os.makedirs(sdir, exist_ok=True)
            sfinal = os.path.join(sdir, f"{split_id}.parquet")
            stmp = sfinal + ".inprogress"
            pq.write_table(
                pa.table(
                    {
                        "col_name": pa.array(srows["col_name"]),
                        "n_values": pa.array(
                            srows["n_values"], pa.int64()
                        ),
                        "enc_bytes": pa.array(
                            srows["enc_bytes"], pa.int64()
                        ),
                        "raw_bytes": pa.array(
                            srows["raw_bytes"], pa.int64()
                        ),
                        "block": pa.array(srows["block"], pa.binary()),
                    }
                ),
                stmp,
            )
            os.replace(stmp, sfinal)
        final = os.path.join(out_blocks_dir, f"{split_id}.parquet")
        tmp = final + ".inprogress"
        pq.write_table(out, tmp, compression="zstd")
        os.replace(tmp, final)
        codec_ids = out.column("codec_id").to_numpy()
        hist = {
            str(int(k)): int(v)
            for k, v in zip(*np.unique(codec_ids, return_counts=True))
        }
        return [{
            "split_id": split_id,
            "n_docs": len(out),
            "n_tokens": int(out.column("n_tok").to_numpy().sum()),
            "n_runs": int(out.column("n_runs").to_numpy().sum()),
            "bytes_out": int(out.column("enc_bytes").to_numpy().sum()),
            "naive_rle_bytes": int(out.column("naive_bytes").to_numpy().sum()),
            "codec_hist": json.dumps(hist, sort_keys=True),
            "encode_cpu_ns": cpu_ns,
        }]

    return run_split


SAMPLE_SCHEMA = (
    "split_id string, source string, n_docs bigint, n_tokens bigint, "
    "n_runs bigint, min_val bigint, max_val bigint, ndv_est bigint, "
    "run_hist string, sample_text binary"
)


def _sample_worker(task: dict) -> list[dict]:
    """Per-split codec statistics (north rule's sampling pass): run-length
    histogram, value ranges, distinct-value estimate, and a byte sample of the
    string column for FSST symbol training."""
    import pyarrow.parquet as pq

    from rlv.engine import _batch_doc_stats, _list_offsets_values
    from rlv.stats import run_length_histogram

    by_file: dict[str, list[int]] = {}
    for path, rg in json.loads(task["pieces"]):
        by_file.setdefault(path, []).append(rg)
    rows = []
    for path, rgs in by_file.items():
        tbl = pq.ParquetFile(path).read_row_groups(
            rgs, columns=["doc_id", "tokens", "n_tok", "source"],
            use_threads=False,
        ).combine_chunks()
        offs, vals = _list_offsets_values(tbl.column("tokens").chunk(0)
                                          if tbl.column("tokens").num_chunks
                                          else tbl.column("tokens"))
        a = vals[offs[0]:offs[-1]]
        o = offs - offs[0]
        (run_len, run_val, _, n_per_doc, minv, maxv, rpd, _, ndv,
         *_rest) = _batch_doc_stats(a, o)
        src = np.asarray(tbl.column("source").to_pylist())
        text_sample = b"|".join(
            s.encode("utf-8") for s in src[:64].tolist()
        )[:65536]
        for source in np.unique(src):
            m = src == source
            rows.append(
                {
                    "split_id": task["split_id"],
                    "source": str(source),
                    "n_docs": int(m.sum()),
                    "n_tokens": int(n_per_doc[m].sum()),
                    "n_runs": int(rpd[m].sum()),
                    "min_val": int(minv[m].min()) if m.any() else 0,
                    "max_val": int(maxv[m].max()) if m.any() else 0,
                    "ndv_est": int(ndv[m].max()) if m.any() else 0,
                    "run_hist": json.dumps(run_length_histogram(run_len)),
                    "sample_text": text_sample,
                }
            )
    return rows


def sample_pass(
    spark: SparkSession, input_dir: str, every_kth: int = 8, num_tasks: int = 64
) -> dict:
    """Distributed sampling pass: stats from every k-th split + a trained FSST
    symbol table from the sampled string bytes.  At 10^12-sequence scale this
    is the cheap pre-flight that sizes the selector and the skew plan without
    touching most of the data."""
    from rlv.kernels import fsst

    splits = plan_splits(input_dir, num_tasks)
    sampled = splits[::every_kth] or splits[:1]
    rows = run_file_job(
        spark, _split_tasks(sampled), _sample_worker, SAMPLE_SCHEMA
    ).toArrow().to_pylist()
    per_source: dict[str, dict] = {}
    text_sample = bytearray()
    for r in rows:
        s = per_source.setdefault(
            r["source"],
            {"n_docs": 0, "n_tokens": 0, "n_runs": 0,
             "min_val": 2**63 - 1, "max_val": -(2**63), "ndv_est": 0},
        )
        s["n_docs"] += r["n_docs"]
        s["n_tokens"] += r["n_tokens"]
        s["n_runs"] += r["n_runs"]
        s["min_val"] = min(s["min_val"], r["min_val"])
        s["max_val"] = max(s["max_val"], r["max_val"])
        s["ndv_est"] = max(s["ndv_est"], r["ndv_est"])
        if len(text_sample) < 65536:
            text_sample += bytes(r["sample_text"])
    symbols = fsst.train_symbols(bytes(text_sample))
    return {
        "splits_sampled": len(sampled),
        "per_source": per_source,
        "fsst_symbols": [s.hex() for s in symbols],
    }


VERIFY_SCHEMA = "split_id string, n_docs bigint, n_tokens bigint, mismatches bigint"


def _read_sidecar_strings(
    blocks_path: str, col: str, symbols: list[bytes] | None
):
    """Decode ``col``'s values from the strings sidecar paired with a blocks
    file as ONE pyarrow binary Array, concatenating sidecar rows in order
    (doc-aligned with the blocks rows, also after compaction).  None when no
    sidecar exists.  The loop below is per sidecar ROW (one STRDICT block
    per absorbed split) — each block decodes as a whole-array Arrow kernel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rlv import blocks as B

    sidecar = os.path.join(
        os.path.dirname(os.path.dirname(blocks_path)),
        "strings",
        os.path.basename(blocks_path),
    )
    if not os.path.exists(sidecar):
        return None
    stbl = pq.read_table(sidecar)
    parts = [
        B.decode_strings_arrow(stbl.column("block")[i].as_py(), symbols)
        for i in range(len(stbl))
        if stbl.column("col_name")[i].as_py() == col
    ]
    if not parts:
        return pa.array([], pa.binary())
    if len({p.type for p in parts}) > 1:
        # a >2 GiB block decodes as large_binary: promote the whole column
        parts = [p.cast(pa.large_binary()) for p in parts]
    return pa.concat_arrays(parts)


def _make_verify_worker(blocks_dir: str, symbols: list[bytes] | None = None):
    """Per-split verify: re-read the split's SOURCE row groups (its lineage)
    and its blocks file, decode, and compare in-task.

    No join, no shuffle: the blocks file was written by the encode task that
    read exactly these row groups in exactly this order, so rows align by
    position (guarded by a doc_id equality check, with a sort-merge fallback).
    At 10^12 sequences verification stays embarrassingly parallel — the JVM
    alternative (join 2x the corpus on doc_id) shuffles every token twice.
    """
    from rlv import blocks as B
    from rlv.engine import _list_offsets_values

    def run_verify(task: dict) -> list[dict]:
        import pyarrow.parquet as pq

        split_id = task["split_id"]
        pieces = json.loads(task["pieces"])
        by_file: dict[str, list[int]] = {}
        for path, rg in pieces:
            by_file.setdefault(path, []).append(rg)
        src = pa.concat_tables(
            pq.ParquetFile(p).read_row_groups(
                rgs, columns=["doc_id", "tokens", "source"],
                use_threads=False,
            )
            for p, rgs in by_file.items()
        ).combine_chunks()
        blk = pq.read_table(
            os.path.join(blocks_dir, f"{split_id}.parquet"),
            columns=["doc_id", "block"],
        ).combine_chunks()
        src_ids = src.column("doc_id").to_pandas()
        blk_ids = blk.column("doc_id").to_pandas()
        extra_docs = 0
        if len(blk) == len(src) and src_ids.equals(blk_ids):
            order = None
        else:  # retries/compaction may reorder a rewritten file
            pos = pd.Series(
                np.arange(len(blk_ids)), index=blk_ids.to_numpy()
            )
            if not pos.index.is_unique:
                pos = pos.groupby(level=0).first()
            aligned = pos.reindex(src_ids.to_numpy())
            order = aligned.to_numpy()
            # blocks rows no src doc claims (junk/duplicates) are NOT
            # bit-identical output and must count as mismatches
            extra_docs = len(blk_ids) - int(aligned.notna().sum())
        offs, vals = _list_offsets_values(src.column("tokens"))
        a = vals[offs[0]:offs[-1]]
        o = offs - offs[0]
        n = len(src)
        blocks_col = blk.column("block").combine_chunks()
        if order is None:
            blobs = blocks_col.to_pylist()
        else:
            # vectorized alignment: Arrow take on the reorder indices;
            # missing docs (NaN) take index 0 then get None'd (decode
            # treats None as empty, which never matches nonempty)
            missing = np.isnan(order)
            idx = np.where(missing, 0, order).astype(np.int64)
            blobs = blocks_col.take(pa.array(idx)).to_pylist()
            for i in np.flatnonzero(missing):
                blobs[i] = None
        exp_sizes = np.diff(o)
        try:
            dec, dec_off0 = B.decode_blocks_batch(
                blobs, np.int32, expected=exp_sizes
            )
            lens = np.diff(dec_off0)
        except Exception:
            # corrupt blocks raise (the decode guards,
            # rl_encoding.v:4016-4023); verify must report the split,
            # not die — retry per doc so one bad block only fails its
            # own doc (an empty decode never matches a nonempty one);
            # the per-doc budget keeps forged sizes unallocatable
            parts = []
            for k, b in enumerate(blobs):
                try:
                    p, _ = B.decode_blocks_batch(
                        [b], np.int32, expected=exp_sizes[k:k + 1]
                    )
                    parts.append(p)
                except Exception:
                    parts.append(np.empty(0, np.int32))
            dec = (
                np.concatenate(parts) if parts else np.empty(0, np.int32)
            )
            lens = np.fromiter((p.size for p in parts), np.int64, n)
        n_per_doc = np.diff(o)
        bad_len = np.flatnonzero(lens != n_per_doc)
        if bad_len.size == 0 and dec.size == a.size:
            neq = np.flatnonzero(a != dec)
            bad_docs = np.unique(np.searchsorted(o, neq, side="right") - 1)
            mismatches = int(bad_docs.size)
        else:
            # compare only the length-matching docs, count the rest bad
            mismatches = int(bad_len.size)
            dec_off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=dec_off[1:])
            ok_docs = np.flatnonzero(lens == n_per_doc)
            for i in ok_docs:
                if not np.array_equal(
                    a[o[i]:o[i + 1]], dec[dec_off[i]:dec_off[i + 1]]
                ):
                    mismatches += 1
        # string sidecar check: decoded sidecar values must equal the
        # source column, doc-aligned through the same `order` map —
        # a dataset's string plane is verified with the same rigor as
        # its tokens, never assumed
        str_mismatches = 0
        side = _read_sidecar_strings(
            os.path.join(blocks_dir, f"{split_id}.parquet"),
            "source",
            symbols,
        )
        if side is not None:
            if len(side) != len(blk):
                # truncated/corrupt sidecar: every doc unverifiable
                str_mismatches = n
            else:
                # vectorized compare, same discipline as the token
                # path: Arrow take on the reorder indices + one
                # whole-column equality kernel
                import pyarrow.compute as pc

                want = (
                    src.column("source")
                    .cast(side.type)  # binary, or large_binary >2GiB
                    .combine_chunks()
                )
                if order is None:
                    eq = pc.equal(side, want).to_numpy(
                        zero_copy_only=False
                    )
                else:
                    missing = np.isnan(order)
                    take_idx = np.where(missing, 0, order).astype(
                        np.int64
                    )
                    eq = pc.equal(
                        side.take(pa.array(take_idx)), want
                    ).to_numpy(zero_copy_only=False)
                    eq[missing] = False
                str_mismatches = int(n - np.count_nonzero(eq))
        return [{
            "split_id": split_id,
            "n_docs": n,
            "n_tokens": int(a.size),
            "mismatches": mismatches + extra_docs + str_mismatches,
        }]

    return run_verify


def verify_files_dataset(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    num_tasks: int | None = None,
) -> dict:
    """Decode-and-compare every encoded split against its source via lineage
    (zero-shuffle).  Splits that pass are promoted to status='verified' in the
    manifest.  Returns {splits, docs, tokens, mismatches}.

    Lineage comes from the manifest's ``pieces`` column (the exact row groups
    each split encoded), so verification is independent of how a later run
    would plan splits; manifests from before that column fall back to
    re-planning with ``num_tasks`` (which must then match the encode run).
    """
    if num_tasks is None:
        num_tasks = 4 * spark.sparkContext.defaultParallelism
    todo: list[dict] = []
    no_pieces: list[str] = []
    live = live_splits(out_dir)  # compacted rows have no file of their own
    if live is not None:
        live_block_files(out_dir, live)
        for rec in live.to_dict("records"):
            # a recorded-but-EMPTY pieces list ("[]") is as lineage-less as a
            # missing one — handing it to the worker would concat zero tables
            pieces = json.loads(rec["pieces"]) if rec.get("pieces") else []
            if pieces:
                todo.append(
                    {"split_id": str(rec["split_id"]), "pieces": pieces}
                )
            else:
                no_pieces.append(str(rec["split_id"]))
    if no_pieces:
        # LIVE rows from before the lineage column: recover their pieces by
        # re-planning.  Splits we STILL can't source must fail the verify —
        # returning mismatches=0 while silently skipping them would certify a
        # dataset that was never checked.  ('compacted' rows never enter:
        # their blocks files are gone by design and their lineage lives on in
        # the merged row.)
        wanted = set(no_pieces)
        planned = {s["split_id"]: s for s in plan_splits(input_dir, num_tasks)}
        unsourced = sorted(wanted - set(planned))
        if unsourced:
            raise ValueError(
                f"cannot verify splits with no recorded lineage and no match "
                f"in the re-planned splits (num_tasks mismatch?): {unsourced[:5]}"
            )
        todo.extend(planned[sid] for sid in sorted(wanted))
    if not todo:
        return {"splits": 0, "docs": 0, "tokens": 0, "mismatches": 0}
    results = run_file_job(
        spark, _split_tasks(todo),
        _make_verify_worker(f"{out_dir}/blocks", _load_symbols(out_dir)),
        VERIFY_SCHEMA, packed=_batch_planned(out_dir),
    ).toArrow().to_pylist()
    passed = {r["split_id"] for r in results if r["mismatches"] == 0}
    pdf = _read_manifest_pdf(out_dir)
    if pdf is not None and passed:
        sel = pdf["split_id"].astype(str).isin(passed) & (pdf["status"] == "done")
        pdf.loc[sel, "status"] = "verified"
        _write_manifest_pdf(out_dir, pdf)
    return {
        "splits": len(results),
        "docs": sum(r["n_docs"] for r in results),
        "tokens": sum(r["n_tokens"] for r in results),
        "mismatches": sum(r["mismatches"] for r in results),
    }


def _batch_planned(out_dir: str) -> bool:
    """Whether every live split of a token dataset is a
    :func:`plan_splits` split, so that its verify can pack them per slot:
    the dataset was never streamed (:mod:`rlv.streaming` cuts splits per
    file) nor compacted (a merged row replays several splits' lineage)."""
    if os.path.exists(f"{_split_manifest_path(out_dir)}/stream_plan.json"):
        return False
    pdf = _read_manifest_pdf(out_dir)
    return pdf is None or not (pdf["status"] == "compacted").any()


DECODE_RESULT_SCHEMA = "file string, n_docs bigint, n_tokens bigint"

_INT32_LIMIT = 2**31


def _tokens_list_array(flat: "np.ndarray", offs: "np.ndarray"):
    """Arrow list column from (flat values, offsets), overflow-safe.

    A blocks file merged by compaction can decode to > 2^31 tokens at the
    10^12-token scale this plane targets; casting such offsets to int32 for
    ``ListArray`` would silently wrap and corrupt the export, so past the
    int32 range we emit a LargeListArray (int64 offsets — parquet stores both
    identically; readers see the same list column).
    """
    import pyarrow as pa

    if int(offs[-1]) < _INT32_LIMIT:
        return pa.ListArray.from_arrays(
            pa.array(offs.astype(np.int32), type=pa.int32()),
            pa.array(flat, type=pa.int32()),
        )
    return pa.LargeListArray.from_arrays(
        pa.array(offs.astype(np.int64), type=pa.int64()),
        pa.array(flat, type=pa.int32()),
    )


def _make_decode_worker(out_dir: str, symbols: list[bytes] | None = None):
    """Per-file decode: blocks parquet -> token-table parquet (the read/export
    direction, python-native like the encode).  Output rows carry
    (doc_id, tokens, n_tok, source); file name mirrors the blocks file so the
    export is idempotent and resumable by presence (see
    :func:`decode_files_dataset`'s ``resume``).  A blocks file WITHOUT the
    plain ``source`` column (string_cols encode) gets it reconstructed from
    the split's STRDICT sidecar, using the dataset's recorded FSST table when
    one exists."""
    from rlv import blocks as B

    def run_decode(task: dict) -> list[dict]:
        import pyarrow.parquet as pq

        path = task["file"]
        have = pq.ParquetFile(path).schema_arrow.names
        cols = ["doc_id", "n_tok", "block"] + (
            ["source"] if "source" in have else []
        )
        tbl = pq.read_table(path, columns=cols).combine_chunks()
        declared = tbl.column("n_tok").to_numpy().astype(np.int64)
        # declared n_tok is the decode-size budget: header/size
        # disagreement raises before any allocation
        flat, offs = B.decode_blocks_batch(
            tbl.column("block").to_pylist(), np.int32, expected=declared
        )
        tokens_col = _tokens_list_array(flat, offs)
        if "source" in have:
            source_col = tbl.column("source")
        else:
            vals = _read_sidecar_strings(path, "source", symbols)
            if vals is None:
                raise FileNotFoundError(
                    f"blocks file {os.path.basename(path)} has no "
                    "plain source column and no strings sidecar"
                )
            if len(vals) != len(tbl):
                raise ValueError(
                    f"strings sidecar for {os.path.basename(path)} "
                    f"holds {len(vals)} values for {len(tbl)} docs"
                )
            # Arrow cast binary -> utf8 validates encoding and builds
            # the column without a per-row Python decode (large
            # variants keep 64-bit offsets past 2 GiB)
            source_col = vals.cast(
                pa.large_string()
                if pa.types.is_large_binary(vals.type)
                else pa.string()
            )
        out = pa.table(
            {
                "doc_id": tbl.column("doc_id"),
                "tokens": tokens_col,
                "n_tok": tbl.column("n_tok"),
                "source": source_col,
            }
        )
        final = os.path.join(out_dir, os.path.basename(path))
        tmp = final + ".inprogress"
        pq.write_table(out, tmp, compression="zstd")
        os.replace(tmp, final)
        return [{
            "file": os.path.basename(path),
            "n_docs": len(out),
            "n_tokens": int(flat.size),
        }]

    return run_decode


def decode_files_dataset(
    spark: SparkSession, enc_dir: str, out_dir: str, resume: bool = True
) -> dict:
    """Decode every blocks file under ``enc_dir`` back into a token table at
    ``out_dir`` (one task per blocks file, zero shuffle).  Returns
    {files, docs, tokens, files_skipped}.

    With ``resume``, files whose output already exists are skipped — output
    writes are atomic (tmp + rename), so presence means complete; pass
    ``resume=False`` to force a full re-export."""
    blocks_dir = f"{enc_dir}/blocks"
    live = live_splits(enc_dir)
    if live is not None:
        files = live_block_files(enc_dir, live)
    else:
        files = sorted(
            os.path.join(blocks_dir, f)
            for f in os.listdir(blocks_dir)
            if f.endswith(".parquet")
        )
    os.makedirs(out_dir, exist_ok=True)
    skipped = 0
    if resume:
        todo = []
        for f in files:
            if os.path.exists(os.path.join(out_dir, os.path.basename(f))):
                skipped += 1
            else:
                todo.append(f)
        files = todo
    if not files:
        return {"files": 0, "docs": 0, "tokens": 0, "files_skipped": skipped}
    rows = run_file_job(
        spark, pa.table({"file": pa.array(files, pa.string())}),
        _make_decode_worker(out_dir, _load_symbols(enc_dir)),
        DECODE_RESULT_SCHEMA,
    ).toArrow().to_pylist()
    return {
        "files": len(rows),
        "docs": sum(r["n_docs"] for r in rows),
        "tokens": sum(r["n_tokens"] for r in rows),
        "files_skipped": skipped,
    }


def _split_manifest_path(out_dir: str) -> str:
    return f"{out_dir}/manifest"


_MANIFEST_COLS = [
    "split_id", "status", "n_docs", "n_tokens", "n_runs", "bytes_in",
    "bytes_out", "naive_rle_bytes", "codec_hist", "encode_cpu_ns",
    "tokens_per_cpu_sec", "attempt", "finished_at", "pieces",
]


def _read_manifest_pdf(out_dir: str):
    """Manifest IO is driver-side pyarrow: the table is tiny (one row per
    split) even at 10^12-sequence scale, and spinning Spark jobs for it costs
    seconds per run."""
    import pyarrow.parquet as pq

    path = f"{_split_manifest_path(out_dir)}/manifest.parquet"
    if not os.path.exists(path):
        return None
    return pq.read_table(path).to_pandas()


def _write_manifest_pdf(out_dir: str, pdf) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_split_manifest_path(out_dir), exist_ok=True)
    final = f"{_split_manifest_path(out_dir)}/manifest.parquet"
    tmp = final + ".inprogress"
    pdf = pdf.copy()
    _STR_COLS = {"split_id", "status", "codec_hist", "pieces"}
    _FLOAT_COLS = {"tokens_per_cpu_sec", "finished_at"}
    for col in _MANIFEST_COLS:  # manifests written before a column existed
        if col not in pdf.columns:
            pdf[col] = "" if col in _STR_COLS else (
                0.0 if col in _FLOAT_COLS else 0
            )
    pdf = pdf.fillna({"pieces": ""})
    pq.write_table(pa.Table.from_pandas(pdf[_MANIFEST_COLS], preserve_index=False), tmp)
    os.replace(tmp, final)


def done_splits(spark: SparkSession, out_dir: str) -> set[str]:
    """Splits whose work is complete — including ones whose file was later
    absorbed by compaction ('compacted'): resume must still skip them."""
    pdf = _read_manifest_pdf(out_dir)
    if pdf is None:
        return set()
    ok = pdf["status"].isin(["done", "verified", "compacted"])
    return set(pdf.loc[ok, "split_id"].astype(str))


def live_splits(out_dir: str):
    """Manifest rows whose blocks file currently exists as data (excludes
    rows absorbed by compaction) — the reader-facing file set."""
    pdf = _read_manifest_pdf(out_dir)
    if pdf is None:
        return None
    return pdf[pdf["status"].isin(["done", "verified"])]


def live_block_files(out_dir: str, live) -> list[str]:
    """Sorted blocks files of ``live``, the rows :func:`live_splits`
    returned for ``out_dir``, checked on the driver before any job reads
    them.  A live row whose blocks file is missing is an integrity
    violation: verifying or exporting around it would drop its rows, and a
    worker opening it would fail only with a wrapped Spark error.  Raises
    FileNotFoundError naming the missing files."""
    files = sorted(
        os.path.join(out_dir, "blocks", f"{sid}.parquet")
        for sid in live["split_id"].astype(str)
    )
    lost = [os.path.basename(f) for f in files if not os.path.exists(f)]
    if lost:
        raise FileNotFoundError(
            f"manifest lists live splits whose blocks files are missing "
            f"under {out_dir}/blocks: {lost[:5]}"
        )
    return files


def grouped_slices(tbl):
    """Contiguous ``(split_seq, col_name)`` runs of a blocks/sidecar
    table, each to be written as ITS OWN parquet row group — the ONE
    definition of the layout both writers (fresh encode in
    rlv.table_files, compaction merge here) must share: row-group
    statistics then prune a segment- or column-filtered read to exactly
    its own pages.  A table without those columns (token plane) yields
    itself whole; an empty table yields nothing."""
    keys = [k for k in ("split_seq", "col_name") if k in tbl.column_names]
    if len(tbl) == 0:
        return
    if not keys:
        yield tbl
        return
    vals = list(zip(*[tbl.column(k).to_pylist() for k in keys]))
    start = 0
    for i in range(1, len(vals) + 1):
        if i == len(vals) or vals[i] != vals[start]:
            yield tbl.slice(start, i - start)
            start = i


COMPACT_RESULT_SCHEMA = "new_sid string, n_files int, n_rows bigint"


def _make_compact_worker(blocks_dir: str, strings_dir: str):
    """Per-bin merge task: read the bin's blocks files (and, when present,
    their string sidecars — in the SAME order, so the per-column STRDICT
    blocks still concatenate doc-aligned on decode), concat, write under an
    ``.inprogress`` name, and atomically rename.  Block bytes are untouched.

    Retries are idempotent: ``new_sid`` is a deterministic hash of the sorted
    member split_ids and concat order is the bin's fixed file order, so a
    re-run renames byte-identical content over the same final path."""

    def _write_segmented(tmp: str, members: list, compression) -> int:
        """Write the merged file with one row group per
        :func:`grouped_slices` run of each member (per absorbed split and
        column; runs inside an already-merged member stay contiguous):
        row-group statistics then prune a segment-scoped AND
        column-filtered query read to exactly its own pages instead of
        decompressing the whole bin."""
        import pyarrow.parquet as pq

        n_rows = 0
        with pq.ParquetWriter(
            tmp, members[0].schema, compression=compression
        ) as w:
            for t in members:
                n_rows += len(t)
                for run in grouped_slices(t):
                    w.write_table(run)
        return n_rows

    def run_compact(task: dict) -> list[dict]:
        import pyarrow.parquet as pq

        new_sid = task["new_sid"]
        sids = json.loads(task["sids"])
        members = [
            pq.read_table(os.path.join(blocks_dir, f"{sid}.parquet"))
            for sid in sids
        ]
        final = os.path.join(blocks_dir, f"{new_sid}.parquet")
        tmp = final + ".inprogress"
        n_rows = _write_segmented(tmp, members, "zstd")
        os.replace(tmp, final)
        if task["has_sidecar"]:
            side_members = [
                pq.read_table(os.path.join(strings_dir, f"{sid}.parquet"))
                for sid in sids
            ]
            sfinal = os.path.join(strings_dir, f"{new_sid}.parquet")
            stmp = sfinal + ".inprogress"
            # zstd matches the fresh-sidecar writer
            # (table_files._write_grouped) so both generations share one
            # on-disk codec
            _write_segmented(stmp, side_members, "zstd")
            os.replace(stmp, sfinal)
        return [{"new_sid": new_sid, "n_files": len(sids), "n_rows": n_rows}]

    return run_compact


def compact_blocks(
    spark: SparkSession, out_dir: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Iceberg-style small-file compaction: bin-pack live blocks files up to
    ``target_bytes`` and rewrite each bin as one file — each bin as ONE SPARK
    TASK (the data never funnels through the driver; at 100 TB the rewrite
    bandwidth is the cluster's, not one node's).

    Crash-safe protocol, data before metadata: tasks write each merged file
    under an ``.inprogress`` name and rename; only after EVERY bin's data is
    renamed does the driver flip the manifest (old rows -> status='compacted',
    merged rows added with the UNION of their lineage pieces) and delete the
    absorbed files.  Readers resolve the file set from the manifest, so a
    crash at any point leaves either the originals live (+ ignorable merged
    orphans, cleaned on the next run) or the merge complete (+ ignorable
    original orphans) — never a manifest pointing at missing data.  The
    lineage union keeps the zero-shuffle verify replayable against the merged
    file.  The driver touches only footer-less metadata: manifest rows and
    file sizes.
    """
    blocks_dir = f"{out_dir}/blocks"
    # table-plane datasets (rlv.table_files) key blocks by (split_seq,
    # col_name, block_idx): the split_seq provenance column keeps every
    # absorbed split's rows addressable in a merged file, and the manifest
    # keeps per-member lineage as a {split_seq: pieces} map so verify can
    # still replay each segment against exactly the rows it encoded
    is_table = os.path.exists(
        f"{_split_manifest_path(out_dir)}/table_schema.json"
    )
    pdf = _read_manifest_pdf(out_dir)
    if pdf is None:
        return {"bins_written": 0, "files_absorbed": 0}
    live = pdf[pdf["status"].isin(["done", "verified"])]
    infos = []
    for rec in live.to_dict("records"):
        path = os.path.join(blocks_dir, f"{rec['split_id']}.parquet")
        if os.path.exists(path):
            infos.append((str(rec["split_id"]), path, os.path.getsize(path)))
    # first-fit-decreasing by size, binned SEPARATELY per (has-sidecar,
    # schema-signature) class: a resumed dataset can legitimately hold both
    # plain and string-encoded splits (a mixed merged file could not
    # reconstruct its string column), and a pre-r4 table dataset resumed
    # with r4 code holds blocks files with and without split_seq/zone-map
    # columns (pa.concat_tables would refuse a mixed bin mid-task — binning
    # by footer schema keeps each generation compacting within itself).
    # Only bins with >= 2 files are worth rewriting.
    strings_dir = f"{out_dir}/strings"
    def _has_sidecar(sid: str) -> bool:
        return os.path.exists(os.path.join(strings_dir, f"{sid}.parquet"))

    rows_of: dict[str, int] = {}
    sig_of: dict[str, tuple] = {}
    if is_table and infos:
        # table-plane blocks files hold one row per (split, column, block)
        # — the manifest doesn't know that count, so read member FOOTERS
        # (thread-pooled; metadata-only IO); the same pass records each
        # file's column signature for generation-aware binning
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def footer(p: str) -> tuple[int, tuple]:
            f = pq.ParquetFile(p)
            return f.metadata.num_rows, tuple(f.schema_arrow.names)

        paths = [p for _, p, _ in infos]
        with ThreadPoolExecutor(max_workers=min(32, len(paths))) as ex:
            for p, (nr, names) in zip(paths, ex.map(footer, paths)):
                rows_of[p] = nr
                sig_of[p] = names

    bins: list[list[tuple[str, str, int]]] = []
    sidecar_bins: set[int] = set()
    classes = sorted(
        {(_has_sidecar(sid), sig_of.get(path, ())) for sid, path, _ in infos}
    )
    for klass in classes:
        class_infos = sorted(
            (
                i for i in infos
                if (_has_sidecar(i[0]), sig_of.get(i[1], ())) == klass
            ),
            key=lambda x: -x[2],
        )
        class_bins: list[list[tuple[str, str, int]]] = []
        loads: list[int] = []
        for info in class_infos:
            placed = False
            for i, ld in enumerate(loads):
                if ld + info[2] <= target_bytes:
                    class_bins[i].append(info)
                    loads[i] += info[2]
                    placed = True
                    break
            if not placed:
                class_bins.append([info])
                loads.append(info[2])
        for b in class_bins:
            if len(b) >= 2:
                if klass[0]:
                    sidecar_bins.add(len(bins))
                bins.append(b)
    by_id = {str(r["split_id"]): r for r in pdf.to_dict("records")}
    written = 0
    absorbed = 0
    if bins:
        specs = []
        for bi, bin_ in enumerate(bins):
            sids = [sid for sid, _, _ in bin_]
            key = json.dumps(["compact", sorted(sids)], sort_keys=True).encode()
            new_sid = hashlib.sha1(key).hexdigest()[:16]
            specs.append(
                {
                    "new_sid": new_sid,
                    "sids": sids,
                    "has_sidecar": bi in sidecar_bins,
                    # token plane: one blocks row per doc, so the manifest's
                    # n_docs IS the expected merged row count (no file IO)
                    "exp_rows": (
                        sum(rows_of[p] for _, p, _ in bin_)
                        if is_table
                        else sum(int(by_id[s]["n_docs"]) for s in sids)
                    ),
                }
            )
        tasks = pa.table({
            "new_sid": pa.array([s["new_sid"] for s in specs], pa.string()),
            "sids": pa.array([json.dumps(s["sids"]) for s in specs],
                             pa.string()),
            "has_sidecar": pa.array([s["has_sidecar"] for s in specs],
                                    pa.bool_()),
        })
        results = {
            r["new_sid"]: r
            for r in run_file_job(
                spark, tasks, _make_compact_worker(blocks_dir, strings_dir),
                COMPACT_RESULT_SCHEMA,
            ).toArrow().to_pylist()
        }
        # every bin's data must exist and carry exactly the absorbed rows
        # BEFORE any manifest flip — the data-before-metadata ordering
        for s in specs:
            r = results.get(s["new_sid"])
            if r is None or r["n_rows"] != s["exp_rows"]:
                raise RuntimeError(
                    f"compaction task for bin {s['new_sid']} "
                    f"{'missing' if r is None else 'row-count mismatch'}"
                )
        now = time.time()
        for s in specs:
            rows = [by_id[sid] for sid in s["sids"]]
            if is_table:
                # per-member lineage map; an already-merged member (dict)
                # contributes its own segments unchanged
                pmap: dict = {}
                for sid in s["sids"]:
                    parsed = json.loads(by_id[sid].get("pieces") or "[]")
                    if isinstance(parsed, dict):
                        pmap.update(parsed)
                    else:
                        pmap[sid] = parsed
                pieces: list | dict = pmap
            else:
                pieces = []
                for sid in s["sids"]:
                    pieces.extend(json.loads(by_id[sid].get("pieces") or "[]"))
            by_id[s["new_sid"]] = {
                "split_id": s["new_sid"],
                "status": "done",
                "n_docs": sum(int(r["n_docs"]) for r in rows),
                "n_tokens": sum(int(r["n_tokens"]) for r in rows),
                "n_runs": sum(int(r["n_runs"]) for r in rows),
                "bytes_in": sum(int(r["bytes_in"]) for r in rows),
                "bytes_out": sum(int(r["bytes_out"]) for r in rows),
                "naive_rle_bytes": sum(
                    int(r["naive_rle_bytes"]) for r in rows
                ),
                "codec_hist": "",
                "encode_cpu_ns": sum(int(r["encode_cpu_ns"]) for r in rows),
                "tokens_per_cpu_sec": 0.0,
                "attempt": 1,
                "finished_at": now,
                "pieces": json.dumps(pieces, sort_keys=True),
            }
            for sid in s["sids"]:
                by_id[sid] = {**by_id[sid], "status": "compacted"}
        _write_manifest_pdf(out_dir, pd.DataFrame(list(by_id.values())))
        for s in specs:
            for sid in s["sids"]:
                os.remove(os.path.join(blocks_dir, f"{sid}.parquet"))
                if s["has_sidecar"]:
                    os.remove(os.path.join(strings_dir, f"{sid}.parquet"))
            written += 1
            absorbed += len(s["sids"])
    # orphan cleanup: data files the manifest doesn't know as live
    live_names = {
        f"{sid}.parquet"
        for sid, r in by_id.items()
        if r["status"] in ("done", "verified")
    }
    for d in (blocks_dir, strings_dir):
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name.endswith(".parquet") and name not in live_names:
                os.remove(os.path.join(d, name))
    return {"bins_written": written, "files_absorbed": absorbed}


def encode_files_dataset(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    num_tasks: int | None = None,
    resume: bool = True,
    string_cols: tuple[str, ...] = (),
    fsst_symbols: list[bytes] | None = None,
    disable_codecs=(),
) -> dict:
    """Full resumable encode over a parquet directory, python-native data plane.

    ``string_cols`` opts listed string columns into the engine's own codec:
    each split writes a STRDICT block per column to ``out_dir/strings`` and
    the plain column is dropped from the blocks file;
    :func:`decode_files_dataset` reconstructs it.  ``fsst_symbols`` (e.g.
    ``sample_pass(...)["fsst_symbols"]`` decoded from hex) switches those
    blocks to the shared corpus table, recorded as dataset metadata under
    the manifest dir so decode is self-sufficient.
    """
    if num_tasks is None:
        num_tasks = 4 * spark.sparkContext.defaultParallelism
    splits = plan_splits(input_dir, num_tasks)
    return _encode_splits(
        spark, splits, out_dir, True, resume, string_cols, fsst_symbols,
        disable_codecs,
    )


def _check_codec_mask(out_dir: str, ids: tuple[int, ...]) -> None:
    """Pin the selector candidate mask to the DATASET: a resume with a
    different ``disable_codecs`` would encode the remaining splits under a
    different selector policy — mixed codec regimes, and retried splits no
    longer byte-reproducible without the unrecorded flag.  Same discipline
    as the FSST-table and stream-plan pins."""
    path = f"{_split_manifest_path(out_dir)}/codec_mask.json"
    want = sorted(int(i) for i in ids)
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
        if sorted(rec.get("disabled_codec_ids", [])) != want:
            raise ValueError(
                f"{path} records disabled_codec_ids="
                f"{rec.get('disabled_codec_ids')}; resuming with {want} "
                "would mix selector policies across splits — resume with "
                "the recorded mask or encode into a fresh out_dir"
            )
        return
    os.makedirs(_split_manifest_path(out_dir), exist_ok=True)
    tmp = path + ".inprogress"
    with open(tmp, "w") as f:
        json.dump({"disabled_codec_ids": want}, f)
    os.replace(tmp, path)


def _symbols_path(out_dir: str) -> str:
    return f"{_split_manifest_path(out_dir)}/fsst_symbols.json"


def _load_symbols(out_dir: str) -> list[bytes] | None:
    path = _symbols_path(out_dir)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return [bytes.fromhex(h) for h in json.load(f)]


def encode_splits(
    spark: SparkSession,
    splits: list[dict],
    out_dir: str,
    resume: bool = True,
    string_cols: tuple[str, ...] = (),
    fsst_symbols: list[bytes] | None = None,
    disable_codecs=(),
) -> dict:
    """Encode an explicit split list (the streaming micro-batch path), one
    Spark task per split: the list's splits need not be byte-balanced.

    ``disable_codecs`` (codec ids or names, e.g. ``("delta",)``) removes
    candidates from the auto-selector — the bench's codec-cost A/B lever.
    RLE is not removable (budget invariant)."""
    return _encode_splits(
        spark, splits, out_dir, False, resume, string_cols, fsst_symbols,
        disable_codecs,
    )


def _encode_splits(spark, splits, out_dir, packed, resume, string_cols,
                   fsst_symbols, disable_codecs) -> dict:
    """:func:`encode_splits`, packed per slot (:func:`run_file_job`) when
    ``packed`` — for the byte-balanced :func:`plan_splits` splits of
    :func:`encode_files_dataset` — else one Spark task per split."""
    blocks_dir = f"{out_dir}/blocks"
    os.makedirs(blocks_dir, exist_ok=True)
    _check_codec_mask(out_dir, _resolve_codec_ids(disable_codecs))
    if string_cols and set(string_cols) != {"source"}:
        raise ValueError(
            f"string_cols={string_cols!r}: the token-table schema has exactly "
            "one string payload column ('source'); for arbitrary tables use "
            "rlv.table_files.encode_table_files"
        )
    if fsst_symbols is not None:
        # the symbol table is DATASET metadata: every external-table sidecar
        # ever written here references it, so a resumed run must not swap it
        # (re-trained symbols would silently mis-decode earlier splits — the
        # per-string lengths live outside the FSST blob, so even the value
        # COUNT would still look right)
        existing = _load_symbols(out_dir)
        if existing is not None and existing != list(fsst_symbols):
            raise ValueError(
                f"{_symbols_path(out_dir)} already records a different FSST "
                "table; resume with the recorded table (engine_files."
                "_load_symbols) or encode into a fresh out_dir"
            )
        if existing is None:
            os.makedirs(_split_manifest_path(out_dir), exist_ok=True)
            tmp = _symbols_path(out_dir) + ".inprogress"
            with open(tmp, "w") as f:
                json.dump([s.hex() for s in fsst_symbols], f)
            os.replace(tmp, _symbols_path(out_dir))
    done = done_splits(spark, out_dir) if resume else set()
    todo = [s for s in splits if s["split_id"] not in done]
    if not todo:
        return {"splits_encoded": 0, "splits_skipped": len(done), "tokens": 0}
    t0 = time.perf_counter()
    results = run_file_job(
        spark, _split_tasks(todo),
        _make_split_worker(
            blocks_dir,
            string_cols=tuple(string_cols),
            symbols=fsst_symbols,
            disable_codecs=_resolve_codec_ids(disable_codecs),
        ),
        RESULT_SCHEMA, packed=packed,
    ).toArrow().to_pylist()
    wall = time.perf_counter() - t0
    pieces_of = {s["split_id"]: json.dumps(s["pieces"]) for s in todo}
    return _merge_split_manifest(spark, out_dir, results, wall, len(done), pieces_of)


def _merge_split_manifest(
    spark, out_dir, results, wall_sec, skipped, pieces_of=None
) -> dict:
    old_pdf = _read_manifest_pdf(out_dir)
    old: dict[str, dict] = {}
    if old_pdf is not None:
        for rec in old_pdf.to_dict("records"):
            old[str(rec["split_id"])] = rec
    now = time.time()
    summary = {
        "splits_encoded": len(results),
        "splits_skipped": skipped,
        "tokens": 0,
        "bytes_out": 0,
        "naive_rle_bytes": 0,
        "wall_sec": wall_sec,
    }
    for r in results:
        cpu_ns = r["encode_cpu_ns"]
        sid = r["split_id"]
        prev_attempt = int(old[sid]["attempt"]) if sid in old else 0
        old[sid] = {
            "split_id": sid,
            "status": "done",
            "n_docs": r["n_docs"],
            "n_tokens": r["n_tokens"],
            "n_runs": r["n_runs"],
            "bytes_in": 4 * r["n_tokens"],
            "bytes_out": r["bytes_out"],
            "naive_rle_bytes": r["naive_rle_bytes"],
            "codec_hist": r["codec_hist"],
            "encode_cpu_ns": cpu_ns,
            "tokens_per_cpu_sec": (r["n_tokens"] / (cpu_ns / 1e9)) if cpu_ns else 0.0,
            "attempt": prev_attempt + 1,
            "finished_at": now,
            # split lineage: the exact (file, row_group) list this split's
            # blocks were encoded from — what the zero-shuffle verify replays
            "pieces": (pieces_of or {}).get(sid, ""),
        }
        summary["tokens"] += r["n_tokens"]
        summary["bytes_out"] += r["bytes_out"]
        summary["naive_rle_bytes"] += r["naive_rle_bytes"]
    _write_manifest_pdf(out_dir, pd.DataFrame(list(old.values())))
    if wall_sec > 0:
        summary["tokens_per_sec_wall"] = summary["tokens"] / wall_sec
    return summary
