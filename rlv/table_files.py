"""Per-column table encode on the python-native files plane.

This module runs the per-column engine on the zero-shuffle pyarrow plane
(:mod:`rlv.engine_files`), the table plane's one writer: the driver plans
row-group splits, each Spark task reads its rows with pyarrow, sorts them by
``order_col``, cuts every column into ``rows_per_block``-row blocks, and runs
the exact-size auto-selector per (column, block) — the north rule's
*per-column* engine (generic-``A`` columns, rl_encoding.v:2145-2486) on the
engine's best data plane.  No token or value ever crosses the network; the
only driver IO is parquet footers and the manifest.

Wire layout under ``out_dir``:

* ``blocks/{split_id}.parquet`` — one row per (column, block):
  ``(split_seq, col_name, block_idx, n_values, n_nulls, n_runs, codec_id,
  enc_bytes, naive_bytes, min_val, max_val, sum_val, block)``.  ``min_val``/
  ``max_val`` are the block's zone map over its VALID values (r4) — the
  block-skipping statistic :func:`scan_table_files_where` prunes on — and
  ``sum_val`` their exact decimal(38,0) sum, the stat that serves
  full-matching aggregate blocks without a payload read.  String columns contribute their
  per-block dense-code stream (codes = rank of the value among the block's
  sorted distinct VALID values) through the INT codecs — parquet's
  dictionary-page / data-page split.  Every int block is exactly what the
  scalar selector (``rlv.selector.choose_codec`` + ``rlv.blocks
  .encode_with``) picks for its valid values.  A block containing NULLs wraps
  its chosen block in the NULLW validity bitmap (``rlv.blocks
  .wrap_nullable``); blocks without NULLs are byte-identical to the
  unwrapped format.  ``split_seq`` is the originating split id — constant
  within a freshly-encoded file, and the key that keeps every absorbed
  split's (col_name, block_idx) rows addressable after
  :func:`rlv.engine_files.compact_blocks` merges files.
* ``strings/{split_id}.parquet`` — one row per (string column, block):
  ``(split_seq, col_name, block_idx, ndv, raw_bytes, enc_bytes,
  dict_block)`` where ``dict_block`` is a STRDICT block of the block's
  sorted distinct valid values.  Dict bytes are accounted separately from
  ``bytes_out`` (the token plane's sidecar discipline), so the manifest
  budget ``bytes_out <= naive_rle_bytes`` is structural, not
  data-dependent.
* ``manifest/`` — the standard split manifest (resume/idempotency identical
  to the token plane: deterministic split ids, atomic renames, byte-identical
  retries) plus ``table_schema.json`` recording the encoded schema.

Blocks never span splits and runs never span blocks (parquet row-group
discipline), so decode is embarrassingly parallel per blocks file and the
whole table reconstructs bit-identically (:func:`decode_table_files`).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession

from rlv import engine_files
from rlv.engine_files import _arrow_schema

TABLE_RESULT_SCHEMA = (
    "split_id string, n_docs bigint, n_tokens bigint, n_runs bigint, "
    "bytes_out bigint, naive_rle_bytes bigint, codec_hist string, "
    "encode_cpu_ns bigint, n_nulls bigint, dict_bytes bigint"
)

DECODE_RESULT_SCHEMA = "file string, n_rows bigint, n_cols int"


def _schema_path(out_dir: str) -> str:
    return f"{out_dir}/manifest/table_schema.json"


_INT_TYPE_ALIASES = {"int8", "int16", "int32", "int64",
                     "uint8", "uint16", "uint32"}

# Logical source types the int64 plane represents via an ORDER-PRESERVING
# lossless mapping (so zone maps, range predicates, top-k and min/max all
# stay valid on the mapped keys):
#   * timestamps (any unit, with or without tz) and dates — the epoch
#     integer Arrow already defines (cast both ways);
#   * float32/float64 — the IEEE-754 total-order key: non-negative bit
#     patterns map to themselves, negative ones reflect
#     (k = -1 - i - 2^63, a self-inverse), so key order == totalOrder
#     (-NaN < -inf < ... < -0 < +0 < ... < +inf < NaN) and every bit
#     pattern (NaN payloads, -0.0) round-trips exactly.
_TS_ALIAS_RE = None  # compiled lazily (workers import this module cold)


def _ts_alias_parts(alias: str):
    """(unit, tz|None) if ``alias`` is a timestamp type string else None."""
    global _TS_ALIAS_RE
    if _TS_ALIAS_RE is None:
        import re

        _TS_ALIAS_RE = re.compile(
            r"^timestamp\[(s|ms|us|ns)(?:, tz=(.+))?\]$"
        )
    m = _TS_ALIAS_RE.match(alias)
    return (m.group(1), m.group(2)) if m else None


def _plane_kind(alias: str | None) -> str:
    """How a recorded source alias rides the int64 plane: ``int`` (plain
    checked cast), ``epoch`` (timestamp/date — Arrow epoch-integer cast),
    ``f32``/``f64`` (total-order float keys), or ``dec`` (float source
    declared decimal at a fixed scale — stored as the exact scaled
    integers, so sums push down exactly)."""
    if alias is None or alias in _INT_TYPE_ALIASES or alias == "int64":
        return "int"
    if _ts_alias_parts(alias) or alias in ("date32[day]", "date64[ms]"):
        return "epoch"
    if alias == "float":
        return "f32"
    if alias == "double":
        return "f64"
    if _dec_alias_parts(alias):
        return "dec"
    return "int"


def _dec_alias_parts(alias: str) -> tuple[int, str] | None:
    """(scale, source float alias) if ``alias`` is a decimal-declared
    float column (``dec<scale>:float`` / ``dec<scale>:double``)."""
    if not alias.startswith("dec"):
        return None
    head, _, src = alias.partition(":")
    if src not in ("float", "double") or not head[3:].isdigit():
        return None
    return int(head[3:]), src


def _arrow_type_of_alias(alias: str):
    """Arrow type a recorded alias decodes back to."""
    ts = _ts_alias_parts(alias)
    if ts:
        return pa.timestamp(ts[0], tz=ts[1])
    dec = _dec_alias_parts(alias)
    if dec:
        return pa.type_for_alias(dec[1])
    return pa.type_for_alias(alias)


def _f64_keys_involution(k: np.ndarray) -> np.ndarray:
    """Self-inverse int64 map: identity on >= 0, reflection
    ``-1 - k - 2^63`` (== ``~k XOR msb``, overflow-free) on < 0."""
    k = np.asarray(k, np.int64)
    refl = np.bitwise_xor(np.bitwise_not(k), np.int64(-(2 ** 63)))
    return np.where(k >= 0, k, refl)


def _f32_keys_involution(k32: np.ndarray) -> np.ndarray:
    k32 = np.asarray(k32, np.int32)
    refl = np.bitwise_xor(np.bitwise_not(k32), np.int32(-(2 ** 31)))
    return np.where(k32 >= 0, k32, refl)


def _float_to_keys(v: np.ndarray) -> np.ndarray:
    """float32/float64 values -> int64 total-order keys (bit-lossless)."""
    if v.dtype == np.float32:
        return _f32_keys_involution(
            np.ascontiguousarray(v).view(np.int32)
        ).astype(np.int64)
    return _f64_keys_involution(
        np.ascontiguousarray(v.astype(np.float64, copy=False))
        .view(np.int64)
    )


def _keys_to_float(k: np.ndarray, alias: str) -> np.ndarray:
    """Inverse of :func:`_float_to_keys` (the map is an involution)."""
    if alias == "float":
        return _f32_keys_involution(
            k.astype(np.int32)
        ).astype(np.int32).view(np.float32)
    return _f64_keys_involution(k).astype(np.int64).view(np.float64)


def _neg_nan_floor(alias: str | None) -> int | None:
    """Plane key of ``-inf`` on a float column (every key below it is a
    sign-bit NaN), None on the other planes."""
    kind = _plane_kind(alias)
    if kind not in ("f32", "f64"):
        return None
    return int(_float_to_keys(
        np.array([-np.inf], np.float32 if kind == "f32" else np.float64)
    )[0])


def _sql_order_keys(keys: np.ndarray, alias: str | None) -> np.ndarray:
    """Plane keys re-ranked in SQL order, the order Spark and DuckDB sort
    the restored values in: on a float column ``-0.0`` ties ``0.0`` and
    every NaN, of either sign, ties above ``+inf`` (the total-order key
    ranks a sign-bit NaN below ``-inf``); the identity on the other
    planes."""
    if _neg_nan_floor(alias) is None:
        return keys
    v = _keys_to_float(keys, alias)
    return np.where(np.isnan(v), np.iinfo(np.int64).max,
                    np.where(v == 0, 0, keys))


def _sql_rank(col, alias: str | None) -> np.ndarray:
    """A restored NULL-free column ranked in SQL order: its plane keys
    (:func:`_plane_cast`, the encode map) through
    :func:`_sql_order_keys`."""
    return _sql_order_keys(
        _plane_cast(col, alias).to_numpy(zero_copy_only=False), alias)


def _sql_order_zone(mn: np.ndarray, mx: np.ndarray, alias: str | None):
    """Block zone maps (plane-key min/max) bounding the blocks' values in
    SQL order (:func:`_sql_order_keys`).  A float block whose min key is
    below the ``-inf`` key may hold a sign-bit NaN, so it spans
    ``[-inf, NaN]``: no top-k bound prunes it."""
    floor = _neg_nan_floor(alias)
    if floor is None:
        return mn, mx
    neg_nan = mn < floor
    return (np.where(neg_nan, floor, _sql_order_keys(mn, alias)),
            np.where(neg_nan, np.iinfo(np.int64).max,
                     _sql_order_keys(mx, alias)))


def _plane_cast(col, alias: str | None):
    """Map one source column (ChunkedArray/Array) onto the engine's int64
    plane per its recorded alias — the ONE definition shared by the encode
    worker (values in), the verify worker (source side of the compare),
    and predicate-literal normalization.  NULLs stay NULLs; plain-int is
    the CHECKED Arrow cast (an out-of-range value raises, never wraps)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    kind = _plane_kind(alias)
    if kind == "int":
        return col.cast(pa.int64())
    if kind == "epoch":
        if str(col.type) == "date32[day]":
            return col.cast(pa.int32()).cast(pa.int64())
        return col.cast(pa.int64())
    v = col.fill_null(0).to_numpy(zero_copy_only=False)
    valid = (
        col.is_valid().to_numpy(zero_copy_only=False)
        if col.null_count else None
    )
    if kind == "dec":
        scale, src = _dec_alias_parts(alias)
        vv = v if valid is None else v[valid]
        if not np.isfinite(vv).all():
            raise ValueError(
                f"decimal-declared column holds a non-finite value — "
                f"NaN/inf have no scale-{scale} decimal representation"
            )
        scaled = np.rint(v.astype(np.float64) * np.float64(10 ** scale))
        if np.abs(scaled).max(initial=0.0) >= float(2 ** 53):
            raise ValueError(
                f"decimal-declared value exceeds 2^53 at scale {scale} — "
                "exact integer scaling would lose bits"
            )
        back = scaled / np.float64(10 ** scale)
        if src == "float":
            back = back.astype(np.float32)
        vb = back if valid is None else back[valid]
        if not np.array_equal(
            vb.view(np.int32 if src == "float" else np.int64),
            vv.view(np.int32 if src == "float" else np.int64),
        ):
            raise ValueError(
                f"column declared decimal at scale {scale} holds values "
                "that do not round-trip — raise the scale or encode it "
                "as a plain float column"
            )
        keys = scaled.astype(np.int64)
    else:
        keys = _float_to_keys(v)
    if valid is not None:
        return pa.array(keys, pa.int64(), mask=~valid)
    return pa.array(keys, pa.int64())


def _restore_plane(arr, alias: str | None):
    """Inverse of :func:`_plane_cast`: one decoded int64 column back to its
    recorded source type, NULLs intact."""
    if alias is None or alias == "int64":
        return arr
    kind = _plane_kind(alias)
    target = _arrow_type_of_alias(alias)
    if kind == "int":
        return arr.cast(target)
    if kind == "epoch":
        if alias == "date32[day]":
            return arr.cast(pa.int32()).cast(target)
        return arr.cast(target)
    k = arr.fill_null(0).to_numpy(zero_copy_only=False)
    if kind == "dec":
        scale, src = _dec_alias_parts(alias)
        vals = k.astype(np.float64) / np.float64(10 ** scale)
        if src == "float":
            vals = vals.astype(np.float32)
    else:
        vals = _keys_to_float(k, alias)
    if arr.null_count:
        return pa.array(
            vals, target,
            mask=~arr.is_valid().to_numpy(zero_copy_only=False),
        )
    return pa.array(vals, target)


def _idx_key_bytes(plane_v: int) -> bytes:
    """Order-preserving 8-byte big-endian key of one plane int (sign bit
    flipped, so unsigned bytewise order == signed int64 order) — the
    dictionary-sidecar representation of INDEXED int columns."""
    return ((int(plane_v) + 2 ** 63) % 2 ** 64).to_bytes(8, "big")


def _idx_key_array(valid_vals: np.ndarray):
    """Sorted-distinct index keys of one block's valid plane values, as an
    Arrow binary array (vectorized: flip sign bits, big-endian view, one
    buffer — no per-value Python)."""
    u = (
        np.unique(valid_vals.astype(np.int64, copy=False))
        ^ np.int64(-(2 ** 63))
    ).view(np.uint64).astype(">u8")
    n = int(u.size)
    offs = pa.py_buffer((np.arange(n + 1, dtype=np.int32) * 8).tobytes())
    return pa.Array.from_buffers(
        pa.binary(), n, [None, offs, pa.py_buffer(u.tobytes())]
    )


def _int_col_types(input_files: list[str], int_cols: list[str],
                   str_cols: list[str]) -> dict:
    """{col: arrow type alias} from the first file's footer (driver metadata
    only).  Beside the plain int widths, timestamps/dates record their
    epoch-integer alias and float32/float64 their total-order-key alias
    (both decode back exactly).  Unknown/wider types record as int64 — the
    engine's internal width; uint64 records as int64 too, and a uint64
    VALUE above 2^63-1 fails the worker's checked Arrow cast loudly (never
    numpy-wraps).  A declared int or string column the footer lacks raises
    ``ValueError`` here, on the driver, instead of a worker ``KeyError``."""
    import pyarrow.parquet as pq

    sch = pq.ParquetFile(input_files[0]).schema_arrow
    missing = [c for c in [*int_cols, *str_cols] if c not in sch.names]
    if missing:
        raise ValueError(
            f"column(s) {missing} not in {input_files[0]} "
            f"(columns: {sch.names})"
        )
    out = {}
    for c in int_cols:
        t = str(sch.field(c).type)
        if t in _INT_TYPE_ALIASES or _plane_kind(t) != "int":
            out[c] = t
        else:
            out[c] = "int64"
    return out


def _load_table_schema(out_dir: str) -> dict | None:
    path = _schema_path(out_dir)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _block_string_codes(arr, symbols):
    """One string block -> (int code stream, STRDICT dictionary block, ndv,
    raw payload bytes).  Codes index the block's distinct values in bytewise
    sort order; everything runs as Arrow/numpy kernels."""
    import pyarrow.compute as pc

    from rlv import blocks as B

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    denc = arr.dictionary_encode()
    dic = denc.dictionary
    sort_idx = pc.sort_indices(dic).to_numpy().astype(np.int64)
    rank = np.empty(sort_idx.size, dtype=np.int64)
    rank[sort_idx] = np.arange(sort_idx.size, dtype=np.int64)
    codes = rank[denc.indices.to_numpy().astype(np.int64)]
    uniq = dic.take(pa.array(sort_idx))
    dict_block = B.encode_strings(uniq, symbols)
    raw = int(pc.sum(pc.binary_length(uniq)).as_py() or 0)
    return codes, dict_block, len(uniq), raw


def _make_table_split_worker(
    out_blocks_dir: str,
    order_col: str,
    int_cols: tuple[str, ...],
    str_cols: tuple[str, ...],
    rows_per_block: int,
    symbols: list[bytes] | None,
    col_types: dict | None = None,
    index_cols: tuple[str, ...] = (),
):
    col_types = col_types or {}
    read_cols = list(dict.fromkeys([order_col, *int_cols, *str_cols]))

    def run_split(task: dict) -> list[dict]:
        from decimal import Decimal

        import pyarrow.parquet as pq

        from rlv import blocks as B
        from rlv import selector
        from rlv.stats import chunk_stats

        split_id = task["split_id"]
        pieces = json.loads(task["pieces"])
        t0 = time.perf_counter_ns()
        by_file: dict[str, list[int]] = {}
        for path, rg in pieces:
            by_file.setdefault(path, []).append(rg)
        tbl = pa.concat_tables(
            pq.ParquetFile(p).read_row_groups(
                rgs, columns=read_cols, use_threads=False
            )
            for p, rgs in by_file.items()
        ).combine_chunks()
        if tbl.column(order_col).null_count:
            # NULL data values are represented (validity plane);
            # a NULL ORDER key has no position in the sequence at
            # all, so the row order would be undefined — refuse
            raise ValueError(
                f"split {split_id}: order column {order_col!r} "
                "contains NULLs — the row order would be undefined"
            )
        n_rows = len(tbl)
        order = np.argsort(
            tbl.column(order_col).to_numpy(), kind="stable"
        )
        n_blocks = max((n_rows + rows_per_block - 1) // rows_per_block, 1)
        brows = {
            k: []
            for k in ("split_seq", "col_name", "block_idx", "n_values",
                      "n_nulls", "n_runs", "codec_id", "enc_bytes",
                      "naive_bytes", "min_val", "max_val", "sum_val",
                      "block")
        }
        srows = {
            k: []
            for k in ("split_seq", "col_name", "block_idx", "ndv",
                      "raw_bytes", "enc_bytes", "dict_block")
        }
        total_vals = total_runs = bytes_out = naive_total = 0
        nulls_total = dict_bytes = 0
        hist: dict[int, int] = {}

        def emit_block(
            col_name: str, bi: int, valid_vals: np.ndarray,
            mask: np.ndarray | None,
        ) -> None:
            """One (column, block): auto-select over the VALID values;
            a block with NULLs wraps the chosen inner block in the
            NULLW validity bitmap (rlv.blocks.wrap_nullable), priced
            exactly; a block without NULLs is byte-identical to the
            pre-validity format."""
            nonlocal total_vals, total_runs, bytes_out, naive_total
            nonlocal nulls_total
            st = chunk_stats(valid_vals)
            codec, size = selector.choose_codec(st)
            blk = B.encode_with(codec, valid_vals)
            naive = B.naive_rle_bytes(st.n_runs)
            if mask is None:
                n_vals, n_nulls = valid_vals.size, 0
            else:
                n_vals = mask.size
                n_nulls = int(n_vals - valid_vals.size)
                over = B.nullable_overhead(n_vals, valid_vals.size)
                blk = B.wrap_nullable(mask, blk)
                size += over
                # the validity plane is part of this block's budget:
                # chosen-inner <= 16 * runs(valid) keeps the sum
                # structural (CLAUDE.md invariant 3, extended)
                naive += over
            if len(blk) != size:
                raise AssertionError(
                    f"exact-size model broke: {len(blk)} != {size}"
                )
            brows["split_seq"].append(str(split_id))
            brows["col_name"].append(col_name)
            brows["block_idx"].append(bi)
            brows["n_values"].append(int(n_vals))
            brows["n_nulls"].append(n_nulls)
            brows["n_runs"].append(int(st.n_runs))
            brows["codec_id"].append(int(codec))
            brows["enc_bytes"].append(len(blk))
            brows["naive_bytes"].append(naive)
            # zone map over the VALID values (meaningless for an
            # all-NULL block: n_runs == 0 marks it) — the pruned
            # scan's min/max block-skipping statistic
            brows["min_val"].append(int(st.min_val))
            brows["max_val"].append(int(st.max_val))
            # exact sum of the VALID values: with min/max/counts it
            # makes a full-matching block's count/sum/min/max/avg a
            # metadata-only aggregate — the value payload is never
            # read.  Exact Python int (no int64 wrap), stored as
            # decimal(38,0): |sum| < rows_per_block * 2^63 << 10^38
            brows["sum_val"].append(B.exact_sum_i64(valid_vals))
            brows["block"].append(blk)
            total_vals += int(n_vals)
            total_runs += int(st.n_runs)
            nulls_total += n_nulls
            bytes_out += len(blk)
            naive_total += naive
            hist[codec] = hist.get(codec, 0) + 1

        for c in int_cols:
            # onto the int64 plane: CHECKED Arrow cast for plain
            # ints (a uint64 value past int64 range raises here
            # instead of numpy-wrapping to a negative), epoch cast
            # for timestamps/dates, total-order keys for floats
            col = _plane_cast(tbl.column(c), col_types.get(c))
            if col.null_count:
                mask = col.is_valid().to_numpy(zero_copy_only=False)[order]
                vals = col.fill_null(0).to_numpy()[order]
            else:
                mask = None
                vals = col.to_numpy()[order]
            for bi in range(n_blocks):
                sl = slice(bi * rows_per_block, (bi + 1) * rows_per_block)
                a = vals[sl]
                if a.size == 0:
                    continue
                m = mask[sl] if mask is not None else None
                if m is not None and m.all():
                    m = None
                valid_a = a if m is None else a[m]
                emit_block(c, bi, valid_a, m)
                if c in index_cols and valid_a.size:
                    # membership index: the block's sorted-distinct
                    # plane values as order-preserving binary keys
                    # in the dictionary sidecar — point lookups on
                    # UNCLUSTERED keys prune like string eq scans
                    uniq = _idx_key_array(valid_a)
                    dict_block = B.encode_strings(uniq, symbols)
                    srows["split_seq"].append(str(split_id))
                    srows["col_name"].append(c)
                    srows["block_idx"].append(bi)
                    srows["ndv"].append(len(uniq))
                    srows["raw_bytes"].append(8 * len(uniq))
                    srows["enc_bytes"].append(len(dict_block))
                    srows["dict_block"].append(dict_block)
                    dict_bytes += len(dict_block)
        for c in str_cols:
            arr = tbl.column(c).cast(pa.binary()).take(
                pa.array(order)
            )
            for bi in range(n_blocks):
                ablk = arr.slice(
                    bi * rows_per_block,
                    min(rows_per_block,
                        n_rows - bi * rows_per_block),
                )
                if len(ablk) == 0:
                    continue
                m = (
                    ablk.is_valid().to_numpy(zero_copy_only=False)
                    if ablk.null_count
                    else None
                )
                codes, dict_block, ndv, raw = _block_string_codes(
                    ablk.drop_null() if m is not None else ablk,
                    symbols,
                )
                srows["split_seq"].append(str(split_id))
                srows["col_name"].append(c)
                srows["block_idx"].append(bi)
                srows["ndv"].append(ndv)
                srows["raw_bytes"].append(raw)
                srows["enc_bytes"].append(len(dict_block))
                srows["dict_block"].append(dict_block)
                dict_bytes += len(dict_block)
                # the dense-code stream (VALID rows only) rides the
                # INT selector; NULL positions live in the code
                # block's validity wrapper
                emit_block(c, bi, codes, m)
        cpu_ns = time.perf_counter_ns() - t0
        out = pa.table(
            {
                "split_seq": pa.array(brows["split_seq"], pa.string()),
                "col_name": pa.array(brows["col_name"], pa.string()),
                "block_idx": pa.array(brows["block_idx"], pa.int32()),
                "n_values": pa.array(brows["n_values"], pa.int64()),
                "n_nulls": pa.array(brows["n_nulls"], pa.int64()),
                "n_runs": pa.array(brows["n_runs"], pa.int64()),
                "codec_id": pa.array(brows["codec_id"], pa.int32()),
                "enc_bytes": pa.array(brows["enc_bytes"], pa.int64()),
                "naive_bytes": pa.array(
                    brows["naive_bytes"], pa.int64()
                ),
                "min_val": pa.array(brows["min_val"], pa.int64()),
                "max_val": pa.array(brows["max_val"], pa.int64()),
                "sum_val": pa.array(
                    [Decimal(x) for x in brows["sum_val"]],
                    pa.decimal128(38, 0),
                ),
                "block": pa.array(brows["block"], pa.binary()),
            }
        )
        final = os.path.join(out_blocks_dir, f"{split_id}.parquet")
        tmp = final + ".inprogress"
        _write_grouped(tmp, out)
        os.replace(tmp, final)
        if srows["col_name"]:
            sdir = os.path.join(
                os.path.dirname(out_blocks_dir), "strings"
            )
            os.makedirs(sdir, exist_ok=True)
            sfinal = os.path.join(sdir, f"{split_id}.parquet")
            stmp = sfinal + ".inprogress"
            _write_grouped(
                stmp,
                pa.table(
                    {
                        "split_seq": pa.array(
                            srows["split_seq"], pa.string()
                        ),
                        "col_name": pa.array(
                            srows["col_name"], pa.string()
                        ),
                        "block_idx": pa.array(
                            srows["block_idx"], pa.int32()
                        ),
                        "ndv": pa.array(srows["ndv"], pa.int64()),
                        "raw_bytes": pa.array(
                            srows["raw_bytes"], pa.int64()
                        ),
                        "enc_bytes": pa.array(
                            srows["enc_bytes"], pa.int64()
                        ),
                        "dict_block": pa.array(
                            srows["dict_block"], pa.binary()
                        ),
                    }
                ),
            )
            os.replace(stmp, sfinal)
        return [{
            "split_id": split_id,
            "n_docs": n_rows,
            "n_tokens": total_vals,
            "n_runs": total_runs,
            "bytes_out": bytes_out,
            "naive_rle_bytes": naive_total,
            "codec_hist": json.dumps(
                {str(k): v for k, v in sorted(hist.items())}
            ),
            "encode_cpu_ns": cpu_ns,
            "n_nulls": nulls_total,
            "dict_bytes": dict_bytes,
        }]

    return run_split


def encode_table_files(
    spark: SparkSession,
    input_files: list[str],
    out_dir: str,
    order_col: str,
    int_cols: list[str],
    str_cols: list[str] = (),
    rows_per_block: int = 4096,
    num_tasks: int | None = None,
    resume: bool = True,
    fsst_symbols: list[bytes] | None = None,
    splits: list[dict] | None = None,
    decimal_cols: dict | None = None,
    index_cols: list[str] | None = None,
) -> dict:
    """Encode an arbitrary-column parquet table per column on the files
    plane.  ``int_cols`` takes plain ints of any width, timestamps/dates
    (ride the plane as Arrow epoch integers), and float32/float64 (as
    IEEE-754 total-order keys) — all order-preserving and bit-lossless, so
    zone maps, predicates, top-k, and min/max stay exact and decode
    restores the original type; ``str_cols`` take the dictionary plane.
    ``decimal_cols`` maps float columns to a fixed decimal scale (e.g.
    ``{"l_extendedprice": 2}`` for currency): those store the EXACT
    scaled integers instead of IEEE keys — every value must round-trip at
    that scale (checked loudly per split) — which makes SUM/AVG push down
    exactly and the per-block ``sum_val`` stat meaningful.
    ``index_cols`` names columns that get a per-block MEMBERSHIP
    INDEX in the dictionary sidecar: for INT columns the block's
    sorted-distinct plane values write as order-preserving binary keys
    (at the cost of the sidecar bytes, tracked in ``dict_bytes``), so
    point lookups and IN-lists on UNCLUSTERED keys prune blocks the key
    set misses — the int analog of string dictionary membership.  A
    STRING column in ``index_cols`` is a declaration-only no-op: its
    dictionary sidecar exists regardless and already serves exactly that
    index (``eq``/``in``/range/LIKE predicates prune through it), so the
    entry just documents the lookup-key intent at zero extra bytes.
    ``order_col`` must totally order the rows of each split (it defines
    the value sequences, hence the run structure — ties would make blocks
    read-order-dependent); include it in ``int_cols`` to make the dataset
    self-describing on decode.

    Resume semantics are the token plane's: deterministic split ids, blocks
    written under tmp + atomic rename, manifest rows flipped after the data
    exists, re-runs skip done splits.  Returns the familiar summary dict
    (``n_docs``/``tokens`` mean rows / values encoded here).
    """
    if num_tasks is None:
        num_tasks = 4 * spark.sparkContext.defaultParallelism
    if order_col not in list(int_cols):
        raise ValueError(
            f"order_col {order_col!r} must be one of int_cols so the decoded "
            "table is self-describing"
        )
    col_types = _int_col_types(list(input_files), list(int_cols),
                               list(str_cols))
    for c, scale in (decimal_cols or {}).items():
        if c not in col_types or col_types[c] not in ("float", "double"):
            raise ValueError(
                f"decimal_cols[{c!r}]: only float32/float64 source "
                f"columns can be declared decimal (column is "
                f"{col_types.get(c, 'absent')!r})"
            )
        if not (0 <= int(scale) <= 15):
            raise ValueError(
                f"decimal_cols[{c!r}]: scale must be in [0, 15], got "
                f"{scale!r}"
            )
        col_types[c] = f"dec{int(scale)}:{col_types[c]}"
    for c in index_cols or ():
        if c not in list(int_cols) and c not in list(str_cols):
            raise ValueError(
                f"index_cols[{c!r}]: membership indexes cover int-plane "
                f"or string columns (int_cols={list(int_cols)} "
                f"str_cols={list(str_cols)})"
            )
    schema = {
        "order_col": order_col,
        "int_cols": list(int_cols),
        "str_cols": list(str_cols),
        "rows_per_block": int(rows_per_block),
        # source dtypes (from the first file's footer) so decode restores
        # the ORIGINAL column widths — an int32 column must come back
        # int32, not the engine's internal int64
        "int_col_types": col_types,
    }
    if index_cols:
        # only recorded when used, so index-free datasets stay
        # resume-compatible across engine versions
        schema["index_cols"] = sorted(index_cols)
    existing = _load_table_schema(out_dir)
    if existing is not None and existing != schema:
        raise ValueError(
            f"{_schema_path(out_dir)} records a different table schema; "
            "resume with the recorded schema or encode into a fresh out_dir"
        )
    blocks_dir = f"{out_dir}/blocks"
    os.makedirs(blocks_dir, exist_ok=True)
    if existing is None:
        os.makedirs(f"{out_dir}/manifest", exist_ok=True)
        tmp = _schema_path(out_dir) + ".inprogress"
        with open(tmp, "w") as f:
            json.dump(schema, f)
        os.replace(tmp, _schema_path(out_dir))
    if fsst_symbols is not None:
        # same dataset-metadata discipline as the token plane
        existing_syms = engine_files._load_symbols(out_dir)
        if existing_syms is not None and existing_syms != list(fsst_symbols):
            raise ValueError(
                "out_dir already records a different FSST table; resume "
                "with it or use a fresh out_dir"
            )
        if existing_syms is None:
            tmp = engine_files._symbols_path(out_dir) + ".inprogress"
            with open(tmp, "w") as f:
                json.dump([s.hex() for s in fsst_symbols], f)
            os.replace(tmp, engine_files._symbols_path(out_dir))
    if splits is None:
        splits = engine_files.plan_splits_for_files(list(input_files), num_tasks)
    done = engine_files.done_splits(spark, out_dir) if resume else set()
    todo = [s for s in splits if s["split_id"] not in done]
    if not todo:
        return {"splits_encoded": 0, "splits_skipped": len(done), "tokens": 0}
    t0 = time.perf_counter()
    results = engine_files.run_file_job(
        spark, engine_files._split_tasks(todo),
        _make_table_split_worker(
            blocks_dir,
            order_col,
            tuple(int_cols),
            tuple(str_cols),
            int(rows_per_block),
            fsst_symbols,
            col_types=schema["int_col_types"],
            index_cols=tuple(sorted(index_cols or ())),
        ),
        TABLE_RESULT_SCHEMA,
    ).toArrow().to_pylist()
    wall = time.perf_counter() - t0
    pieces_of = {s["split_id"]: json.dumps(s["pieces"]) for s in todo}
    summary = engine_files._merge_split_manifest(
        spark, out_dir, results, wall, len(done), pieces_of
    )
    # dict sidecar bytes are tracked OUTSIDE bytes_out (the token plane's
    # sidecar discipline), so bytes_out <= naive_rle_bytes stays structural
    # for string-heavy tables; n_nulls records the validity-plane mass
    summary["dict_bytes"] = sum(r["dict_bytes"] for r in results)
    summary["n_nulls"] = sum(r["n_nulls"] for r in results)
    return summary


def cluster_encode_table_files(
    spark: SparkSession,
    input_files: list[str],
    out_dir: str,
    cluster_by: str,
    int_cols: list[str],
    str_cols: list[str] = (),
    order_col: str = "row_ord",
    num_tasks: int | None = None,
    rows_per_block: int = 4096,
    fsst_symbols: list[bytes] | None = None,
    stage_dir: str | None = None,
    decimal_cols: dict | None = None,
    index_cols: list[str] | None = None,
) -> dict:
    """CLUSTER BY write path: globally sort the table by ``cluster_by``
    (range partition + partition-local sort — Spark's distributed sort),
    mint a cluster-order ordinal as the dataset's order column, and encode
    the sorted runs zero-shuffle per partition.  Consecutive blocks then
    hold consecutive ``cluster_by`` values, so the zone-map / dictionary
    pruning the scan surfaces do becomes O(selectivity) instead of
    O(blocks) — the reorganization every warehouse sells as CLUSTER BY /
    ZORDER, here feeding OUR block metadata.

    The minted ``order_col`` (default ``row_ord``) must not collide with a
    source column; the original row key, if any, just stays a regular
    column.  ``out_dir`` must be fresh: range boundaries come from Spark's
    sampling, so a *re-clustering* is not split-for-split reproducible and
    resuming a half-done cluster-encode against different boundaries would
    mix block layouts (the ENCODE of a given staged layout remains fully
    deterministic — determinism starts at the staged files, exactly like
    any other ingest).  NULLs in ``cluster_by`` sort first and encode like
    any other NULL.

    The sorted staged copy lands at ``out_dir/source`` (or ``stage_dir``)
    and is KEPT: it is the dataset's recorded input, which lineage verify
    (:func:`verify_table_files`) replays split-for-split — delete it only
    when you no longer need verification against the source."""
    import glob as _glob

    from pyspark.sql import functions as F

    if _load_table_schema(out_dir) is not None:
        raise ValueError(
            f"{out_dir} already holds an encoded table — cluster-encode "
            "needs a fresh out_dir (range boundaries are sampled, so a "
            "resume could mix layouts)"
        )
    known = list(int_cols) + list(str_cols)
    if cluster_by not in known:
        raise ValueError(
            f"cluster_by {cluster_by!r} must be one of int_cols/str_cols "
            f"({known})"
        )
    if order_col in known:
        raise ValueError(
            f"order_col {order_col!r} is minted by cluster-encode and must "
            "not collide with a source column"
        )
    if num_tasks is None:
        num_tasks = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(*list(input_files)).select(*known)
    staged = (
        df.repartitionByRange(num_tasks, F.col(cluster_by))
        .sortWithinPartitions(cluster_by)
        .withColumn(order_col, F.monotonically_increasing_id())
    )
    stage = (
        os.path.join(out_dir, "source") if stage_dir is None else stage_dir
    )
    staged.write.mode("overwrite").parquet(stage)
    files = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))
    if not files:
        raise ValueError("clustering staged zero files — empty input?")
    return encode_table_files(
        spark, files, out_dir,
        order_col=order_col,
        int_cols=[order_col, *int_cols],
        str_cols=list(str_cols),
        rows_per_block=rows_per_block,
        num_tasks=len(files),
        fsst_symbols=fsst_symbols,
        decimal_cols=decimal_cols,
        index_cols=index_cols,
    )


def _write_grouped(tmp: str, tbl, compression: str | None = "zstd") -> None:
    """Write a blocks / sidecar table with one row group per
    :func:`rlv.engine_files.grouped_slices` run (the shared layout
    definition — compaction's merge writer uses the same one): row-group
    statistics then let a column-filtered payload read decompress ONLY
    that column's blocks — with a single row group, every per-column
    read of an N-column file decompresses all N columns' payload (a
    2-column projection over a wide table pays the whole file, N times
    per query)."""
    import pyarrow.parquet as pq

    with pq.ParquetWriter(tmp, tbl.schema, compression=compression) as w:
        for run in engine_files.grouped_slices(tbl):
            w.write_table(run)


def _sidecar_path(blocks_path: str) -> str:
    """The dictionary sidecar file of one blocks file."""
    return os.path.join(
        os.path.dirname(os.path.dirname(blocks_path)),
        "strings",
        os.path.basename(blocks_path),
    )


def _read_dict_sidecar(
    blocks_path: str, default_seq: str,
    col: str | list[str] | None = None,
    block_idx: list[int] | None = None,
    seg: str | None = None,
) -> dict[tuple[str, str, int], bytes]:
    """{(split_seq, col_name, block_idx): STRDICT dict block} for one blocks
    file (empty when the dataset has no string columns).  ``split_seq``
    disambiguates (col, block) keys in files that absorbed several splits
    through compaction; a pre-r4 sidecar without the column keys everything
    under ``default_seq``.  ``col`` (one name or a list) filters the read to
    those columns' dictionaries (the membership-pruning pass and the
    projection pass of :func:`scan_table_files_where`);
    ``block_idx`` additionally restricts to those block ordinals (the
    over-read across compacted segments is harmless — callers key by
    (seq, col, block)); ``seg`` restricts a segment-scoped task of a
    compacted file to its own split's dictionaries (merged sidecars carry
    the ``split_seq`` column and one row group per segment, so the filter
    prunes the read exactly)."""
    import pyarrow.parquet as pq

    spath = _sidecar_path(blocks_path)
    filters = []
    if col is not None:
        cols = [col] if isinstance(col, str) else list(col)
        filters.append(("col_name", "in", cols))
    if block_idx is not None:
        filters.append(("block_idx", "in", list(block_idx)))
    if seg is not None:
        filters.append(("split_seq", "=", seg))
    side: dict[tuple[str, str, int], bytes] = {}
    if os.path.exists(spath):
        stbl = pq.read_table(
            spath,
            filters=filters or None,
        ).combine_chunks()
        seqs = (
            stbl.column("split_seq").to_pylist()
            if "split_seq" in stbl.column_names
            else [default_seq] * len(stbl)
        )
        for sid, name, bi, blob in zip(
            seqs,
            stbl.column("col_name").to_pylist(),
            stbl.column("block_idx").to_numpy(),
            stbl.column("dict_block").to_pylist(),
        ):
            side[(str(sid), name, int(bi))] = blob
    return side


def _decode_split_columns(btbl, side, schema: dict, symbols, split_seq: str):
    """Reconstruct every column of ONE split's blocks rows as Arrow arrays —
    the ONE definition of what an encoded split contains, shared by the
    verify and decode workers (ints as int64, strings as binary; NULLs
    restored from the NULLW validity wrappers).  Raises on corrupt blocks;
    blocks of a column concatenate in block_idx order."""
    from rlv import blocks as B

    per_col: dict[str, list[tuple[int, bytes, int]]] = {}
    for name, bi, blob, nv in zip(
        btbl.column("col_name").to_pylist(),
        btbl.column("block_idx").to_numpy(),
        btbl.column("block").to_pylist(),
        btbl.column("n_values").to_numpy(),
    ):
        per_col.setdefault(name, []).append((int(bi), blob, int(nv)))

    def _int_array(items):
        flat, _, valid = B.decode_blocks_batch_nullable(
            [b for _, b, _ in items],
            np.int64,
            expected=[n for _, _, n in items],
        )
        if valid.all():
            return pa.array(flat, pa.int64())
        return pa.array(flat, pa.int64(), mask=~valid)

    cols: dict[str, pa.Array] = {}
    for c in schema["int_cols"]:
        cols[c] = _int_array(sorted(per_col.get(c, [])))
    for c in schema["str_cols"]:
        items = sorted(per_col.get(c, []))
        parts = []
        for bi, blob, nv in items:
            codes, _, valid = B.decode_blocks_batch_nullable(
                [blob], np.int64, expected=[nv]
            )
            uniq = B.decode_strings_arrow(side[(split_seq, c, bi)], symbols)
            if valid.all():
                idx = pa.array(codes)
            else:  # a NULL index gathers a NULL value — Arrow take semantics
                idx = pa.array(codes, pa.int64(), mask=~valid)
            parts.append(uniq.take(idx))
        if parts and len({p.type for p in parts}) > 1:
            # a >2 GiB block decodes as large_binary: promote the column
            parts = [p.cast(pa.large_binary()) for p in parts]
        cols[c] = (
            pa.concat_arrays(parts) if parts else pa.array([], pa.binary())
        )
    return cols


def _split_segments(btbl, default_seq: str):
    """Yield ``(split_seq, rows)`` per absorbed split of one blocks file, in
    split_seq order — one segment for a freshly-encoded file, several after
    compaction.  Segment order is the file's RECONSTRUCTION order: decode
    emits segments sorted by split_seq, and any global order is re-established
    by sorting on order_col (decoded data).  A pre-r4 blocks file has no
    split_seq column and is exactly one segment: ``default_seq`` (its own
    split id) names it."""
    import pyarrow.compute as pc

    if "split_seq" not in btbl.column_names:
        yield str(default_seq), btbl
        return
    seqs = sorted(pc.unique(btbl.column("split_seq")).to_pylist())
    if len(seqs) == 1:
        yield str(seqs[0]), btbl
        return
    for sid in seqs:
        yield str(sid), btbl.filter(
            pc.equal(btbl.column("split_seq"), sid)
        )


def _segment_rows(seg) -> int:
    """Row count of one blocks segment: the max over columns of the summed
    per-block n_values (every encoded column covers all rows, so any column
    gives the answer; max is robust to a partially-written segment)."""
    per_col: dict[str, int] = {}
    for name, nv in zip(
        seg.column("col_name").to_pylist(),
        seg.column("n_values").to_numpy(),
    ):
        per_col[name] = per_col.get(name, 0) + int(nv)
    return max(per_col.values(), default=0)


def _null_safe_neq(got, want) -> np.ndarray:
    """Row-wise boolean numpy mask: True where the arrays differ under
    NULL-safe semantics (NULL == NULL, NULL != value)."""
    import pyarrow.compute as pc

    eq = pc.fill_null(pc.equal(got, want), False)
    both_null = pc.and_(pc.is_null(got), pc.is_null(want))
    return ~pc.or_(eq, both_null).to_numpy(zero_copy_only=False)


TABLE_VERIFY_SCHEMA = "split_id string, n_rows bigint, mismatches bigint"


def _pieces_map(split_id: str, pieces_json: str) -> dict[str, list]:
    """Normalize a manifest ``pieces`` field to {split_seq: pieces}: a plain
    list means a freshly-encoded split; a dict records the per-member lineage
    of a compacted file (each absorbed split keeps its OWN pieces, so verify
    replays every segment against exactly the rows it encoded)."""
    parsed = json.loads(pieces_json)
    if isinstance(parsed, dict):
        return parsed
    return {split_id: parsed}


def _make_table_verify_worker(blocks_dir: str, schema: dict,
                              symbols: list[bytes] | None):
    """Per-file lineage verify: for EACH split segment recorded in the blocks
    file (one, or several after compaction), re-read that split's SOURCE row
    groups, sort by order_col, decode the segment, and compare every column
    in-task (NULL-safe) — the token plane's zero-shuffle verify discipline on
    arbitrary tables.  ``mismatches`` counts rows where ANY column differs."""
    order_col = schema["order_col"]
    read_cols = list(dict.fromkeys(
        [order_col, *schema["int_cols"], *schema["str_cols"]]
    ))

    def run_verify(task: dict) -> list[dict]:
        import pyarrow.parquet as pq

        split_id = task["split_id"]
        seg_scope = task["segment"]
        pmap = _pieces_map(split_id, task["pieces"])
        bpath = os.path.join(blocks_dir, f"{split_id}.parquet")
        btbl = pq.read_table(
            bpath,
            filters=(
                [("split_seq", "=", seg_scope)]
                if seg_scope is not None else None
            ),
        ).combine_chunks()
        side = _read_dict_sidecar(bpath, split_id, seg=seg_scope)
        n_total = 0
        mismatches = 0
        seen: set[str] = set()
        for seq, seg in _split_segments(btbl, split_id):
            seen.add(seq)
            pieces = pmap.get(seq)
            by_file: dict[str, list[int]] = {}
            for path, rg in pieces or []:
                by_file.setdefault(path, []).append(rg)
            src = pa.concat_tables(
                pq.ParquetFile(p).read_row_groups(
                    rgs, columns=read_cols, use_threads=False
                )
                for p, rgs in by_file.items()
            ).combine_chunks() if by_file else None
            if src is None:
                # a segment with no recorded lineage is unverifiable:
                # count every one of its rows as a mismatch
                mismatches += _segment_rows(seg)
                continue
            order = np.argsort(
                src.column(order_col).to_numpy(), kind="stable"
            )
            n = len(src)
            n_total += n
            bad = np.zeros(n, dtype=bool)
            try:
                cols = _decode_split_columns(
                    seg, side, schema, symbols, seq
                )
            except Exception:
                # corrupt blocks must report, not kill the pass
                cols = None
                bad[:] = True
            if cols is not None:
                col_types = schema.get("int_col_types") or {}
                for c in [*schema["int_cols"], *schema["str_cols"]]:
                    got = cols[c]
                    want_col = src.column(c)
                    if c in schema["str_cols"]:
                        want_col = want_col.cast(got.type)
                    else:
                        # same plane mapping the encode side used
                        # (epoch ints / float total-order keys)
                        want_col = _plane_cast(
                            want_col, col_types.get(c)
                        )
                    want = want_col.take(pa.array(order))
                    if len(got) != n:
                        bad[:] = True
                    else:
                        bad |= _null_safe_neq(got, want)
            mismatches += int(bad.sum())
        # segments the manifest knows but the file lost are data
        # loss: count every row their recorded lineage says they
        # held (source footers, opened once per file).  Reporting
        # the loss must never itself crash — sources may have been
        # archived after a passing verify, so an unreadable footer
        # degrades to counting one mismatch per lost piece
        for seq in set(pmap) - seen:
            lost_by_file: dict[str, list[int]] = {}
            for path, rg in pmap[seq]:
                lost_by_file.setdefault(path, []).append(rg)
            for path, rgs in lost_by_file.items():
                try:
                    meta = pq.ParquetFile(path).metadata
                    mismatches += sum(
                        meta.row_group(rg).num_rows for rg in rgs
                    )
                except Exception:
                    mismatches += len(rgs)
        return [{
            "split_id": split_id, "n_rows": n_total, "mismatches": mismatches,
        }]

    return run_verify


def verify_table_files(spark: SparkSession, enc_dir: str) -> dict:
    """Decode-and-compare every live split against its recorded lineage
    (zero shuffle; one task per split, and one per ABSORBED SEGMENT of a
    compacted bin — each replays exactly its own lineage, so verify
    bandwidth survives compaction like the query layer's).  A split is
    promoted to status='verified' only when every one of its segments
    passes.  Returns {splits, rows, mismatches}."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    import pyarrow.parquet as pq

    live = engine_files.live_splits(enc_dir)
    if live is None:
        return {"splits": 0, "rows": 0, "mismatches": 0}
    engine_files.live_block_files(enc_dir, live)
    todo = []
    n_splits = 0
    for rec in live.to_dict("records"):
        pieces = json.loads(rec["pieces"]) if rec.get("pieces") else []
        if not pieces:
            raise ValueError(
                f"split {rec['split_id']} has no recorded lineage"
            )
        sid = str(rec["split_id"])
        n_splits += 1
        bpath = os.path.join(enc_dir, "blocks", f"{sid}.parquet")
        if (isinstance(pieces, dict) and len(pieces) > 1
                and "split_seq" in pq.ParquetFile(bpath).schema_arrow.names):
            # compacted bin: one verify task per absorbed segment, each
            # replaying exactly its own lineage against its own row
            # groups — a lost segment shows as a zero-row read whose
            # lineage rows all count as mismatches
            for seq in sorted(pieces):
                todo.append({
                    "split_id": sid,
                    "pieces": json.dumps({seq: pieces[seq]},
                                         sort_keys=True),
                    "segment": seq,
                })
        else:
            todo.append({"split_id": sid,
                         "pieces": json.dumps(pieces, sort_keys=True),
                         "segment": None})
    if not todo:
        return {"splits": 0, "rows": 0, "mismatches": 0}
    tasks = pa.Table.from_pylist(todo, schema=pa.schema(
        [(c, pa.string()) for c in ("split_id", "pieces", "segment")]
    ))
    results = engine_files.run_file_job(
        spark, tasks,
        _make_table_verify_worker(f"{enc_dir}/blocks", schema,
                                  engine_files._load_symbols(enc_dir)),
        TABLE_VERIFY_SCHEMA,
    ).toArrow().to_pylist()
    bad_by_split: dict[str, int] = {}
    for r in results:
        sid = r["split_id"]
        bad_by_split[sid] = bad_by_split.get(sid, 0) + r["mismatches"]
    passed = {sid for sid, m in bad_by_split.items() if m == 0}
    pdf = engine_files._read_manifest_pdf(enc_dir)
    if pdf is not None and passed:
        sel = pdf["split_id"].astype(str).isin(passed) & (
            pdf["status"] == "done"
        )
        pdf.loc[sel, "status"] = "verified"
        engine_files._write_manifest_pdf(enc_dir, pdf)
    return {
        "splits": n_splits,
        "rows": sum(r["n_rows"] for r in results),
        "mismatches": sum(r["mismatches"] for r in results),
    }


def _make_table_decode_worker(out_dir: str, schema: dict,
                              symbols: list[bytes] | None):

    def run_decode(task: dict) -> list[dict]:
        import pyarrow.parquet as pq

        path = task["file"]
        file_sid = os.path.splitext(os.path.basename(path))[0]
        seg_scope = task["segment"]
        tbl = pq.read_table(
            path,
            filters=(
                [("split_seq", "=", seg_scope)]
                if seg_scope is not None else None
            ),
        ).combine_chunks()
        side = _read_dict_sidecar(path, file_sid, seg=seg_scope)
        seg_cols = [
            _decode_split_columns(seg, side, schema, symbols, seq)
            for seq, seg in _split_segments(tbl, file_sid)
        ]
        cols: dict = {}
        for c in [*schema["int_cols"], *schema["str_cols"]]:
            parts = [sc[c] for sc in seg_cols]
            if len({p.type for p in parts}) > 1:
                parts = [p.cast(pa.large_binary()) for p in parts]
            cols[c] = pa.concat_arrays(parts)
        # restore recorded source types (widths, timestamps/dates,
        # floats from their total-order keys; pre-r4 datasets have
        # no record and keep the internal int64)
        col_types = schema.get("int_col_types") or {}
        for c in schema["int_cols"]:
            cols[c] = _restore_plane(
                cols[c], col_types.get(c, "int64")
            )
        for c in schema["str_cols"]:
            cols[c] = cols[c].cast(
                pa.large_string()
                if pa.types.is_large_binary(cols[c].type)
                else pa.string()
            )
        out = pa.table(cols)
        # a segment task of a compacted bin writes its own output
        # file (unique per task; the restored dir is a plain
        # parquet dataset either way)
        name = (
            os.path.basename(path) if seg_scope is None
            else f"{file_sid}.{seg_scope}.parquet"
        )
        final = os.path.join(out_dir, name)
        tmp = final + ".inprogress"
        pq.write_table(out, tmp, compression="zstd")
        os.replace(tmp, final)
        return [{"file": name, "n_rows": len(out), "n_cols": out.num_columns}]

    return run_decode


def decode_table_files(
    spark: SparkSession, enc_dir: str, out_dir: str
) -> dict:
    """Reconstruct the encoded table (zero shuffle; one task per live
    blocks file, fanned out to one per absorbed segment for compacted
    bins — export bandwidth survives compaction).  Rows come back in
    ``order_col`` order within each split; the ``order_col`` column
    itself is decoded data, so any global order can be re-established by
    sorting on it."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    # the lost-file check runs BEFORE the task planner (which opens
    # merged files' footers and would raise a raw not-found first)
    _live_block_files(enc_dir)
    tasks = _query_tasks(enc_dir)
    os.makedirs(out_dir, exist_ok=True)
    if tasks.num_rows == 0:
        return {"files": 0, "rows": 0}
    rows = engine_files.run_file_job(
        spark, tasks,
        _make_table_decode_worker(out_dir, schema,
                                  engine_files._load_symbols(enc_dir)),
        DECODE_RESULT_SCHEMA,
    ).toArrow().to_pylist()
    return {
        "files": len(rows),
        "rows": sum(r["n_rows"] for r in rows),
    }


# ---------------------------------------------------------------------------
# Zone-map pruned scan: predicate pushdown into the ENCODED format.  Blocks
# whose [min_val, max_val] cannot intersect the predicate range are never
# decoded — the standard columnar block-skipping read path, over our own
# blocks relation instead of parquet pages.
# ---------------------------------------------------------------------------

_SPARK_TYPE_OF_ALIAS = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "uint8": "smallint", "uint16": "int", "uint32": "bigint",
}


def _live_block_files(enc_dir: str) -> list[str]:
    """Sorted live blocks files from the manifest — the file list of the
    export (decode) and of the driver-side metadata estimates
    (:func:`zonemap_stats`, :func:`strdict_stats`,
    :func:`_restored_bytes`); query operators run per (file, segment)
    task from :func:`_query_tasks`.  Raises when the dataset has no
    manifest yet or a live blocks file is missing
    (:func:`rlv.engine_files.live_block_files`)."""
    live = engine_files.live_splits(enc_dir)
    if live is None:
        raise FileNotFoundError(f"no manifest at {enc_dir}")
    return engine_files.live_block_files(enc_dir, live)


def _query_tasks(enc_dir: str) -> pa.Table:
    """Per-(file, segment) task table (both string columns) of the query
    operators (scan / agg /
    group / distinct / top-k): a freshly-encoded split is one whole-file
    task (``segment`` None); a compacted bin fans out to ONE TASK PER
    ABSORBED SPLIT — enumerated from the manifest's lineage map, no file
    IO on the planner beyond one footer per merged file — so query
    parallelism survives compaction (a dataset compacted into a single
    bin would otherwise collapse every scan to one task).  Workers scope
    a segment task's reads with a ``split_seq`` filter, which prunes to
    that segment's row groups (compaction writes one row group per
    absorbed split).  A merged file from a pre-r4 generation (no
    ``split_seq`` column — checked in its footer) stays one whole-file
    task."""
    import pyarrow.parquet as pq

    live = engine_files.live_splits(enc_dir)
    if live is None:
        raise FileNotFoundError(f"no manifest at {enc_dir}")
    files: list[str] = []
    segs: list[str | None] = []
    for rec in sorted(
        live.to_dict("records"), key=lambda r: str(r["split_id"])
    ):
        sid = str(rec["split_id"])
        path = os.path.join(enc_dir, "blocks", f"{sid}.parquet")
        try:
            parsed = json.loads(rec.get("pieces") or "null")
        except (TypeError, ValueError):
            parsed = None
        segments: list[str | None] = [None]
        if isinstance(parsed, dict) and len(parsed) > 1:
            names = pq.ParquetFile(path).schema_arrow.names
            if "split_seq" in names:
                segments = sorted(parsed)
        for s in segments:
            files.append(path)
            segs.append(s)
    return pa.table({"file": pa.array(files, pa.string()),
                     "segment": pa.array(segs, pa.string())})


def _typed_batch(cols: dict, schema, aliases: dict):
    """One reducer output as an Arrow batch of ``schema``.  A plane
    column (``aliases`` maps its field to the recorded source alias) is
    restored through :func:`_restore_plane`, the encode map's one
    inverse; every column is then cast to its field type.  Values not
    yet Arrow (Python lists) are built at the plane's int64 or at the
    field type."""
    arrays = []
    for f in schema:
        v = cols[f.name]
        if f.name in aliases:
            if not isinstance(v, pa.Array):
                v = pa.array(v, pa.int64())
            v = _restore_plane(v, aliases[f.name])
        elif not isinstance(v, pa.Array):
            v = pa.array(v, f.type)
        arrays.append(v.cast(f.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _plane_array(vals: np.ndarray, valid: np.ndarray):
    """Decoded plane values as an int64 Arrow array, NULL where not
    ``valid``."""
    return pa.array(vals, pa.int64(),
                    mask=None if valid.all() else ~valid)


def _local_relation(spark: SparkSession, ddl: str, batches: list):
    """Typed Arrow batches of ``ddl`` as a local relation: no Spark job
    until the caller's own operators, and no Python-worker stage.  Empty
    batches are dropped first: Spark 4.1 loses the rows that follow an
    empty batch inside an Arrow table's stream."""
    struct, schema = _arrow_schema(ddl)
    return spark.createDataFrame(
        pa.Table.from_batches([b for b in batches if b.num_rows], schema),
        struct,
    )


def _task_frame(plan: _Plan, reducer, schema):
    """Run one classified task through the rest of the block pipeline:
    need -> fetch -> decode/mask -> ``reducer.fold``, as one typed Arrow
    batch of ``schema``."""
    keys = reducer.keys(plan)
    blk = None
    if keys:
        dec, fetch = _need(plan, reducer, keys)
        want = {c: {bi for _, bi in ks} for c, ks in fetch.items()}
        blk = _Blocks(
            plan, _fetch_payloads(plan.path, plan.file_sid, plan.seg, want),
            dec,
        )
        plan.side.load(reducer.side(plan, keys))
    return _typed_batch(reducer.fold(plan, keys, blk), schema,
                        reducer.aliases)


# Cap on a plan's surviving cells (rows of surviving blocks x columns the
# operator reads) for running it on the driver, see :func:`_run_tasks`.
# On a 4-core host a 3-column scan runs faster in-process than as a Spark
# job up to ~55k rows (~165k cells; 48k rows 0.14 vs 0.16 s, 64k rows
# 0.18 vs 0.16 s); the cap sits below that crossover.
_DRIVER_LOCAL_MAX_CELLS = 1 << 17


def _driver_local_batches(enc_dir: str, tasks: pa.Table, reducer,
                          specs: list[dict], schema) -> list | None:
    """The block pipeline's typed batches over ``tasks``, run in this
    process, or None when the plan is not tiny.  The decision classifies
    the tasks one by one (:func:`_classify_file`, the pipeline's own
    first step) and stops as soon as the summed ``rows_surviving x
    len(reducer.cols)`` passes ``_DRIVER_LOCAL_MAX_CELLS``, so a large
    plan pays only the metadata reads of its first tasks; a tiny plan
    runs on from those same classifications."""
    symbols = engine_files._load_symbols(enc_dir)
    plans = []
    cells = 0
    for t in tasks.to_pylist():
        plan = _classify_file(t["file"], t["segment"], specs, reducer.cols,
                              symbols)
        plans.append(plan)
        cells += len(reducer.cols) * plan.rows_surviving
        if cells > _DRIVER_LOCAL_MAX_CELLS:
            return None
    return [_task_frame(p, reducer, schema) for p in plans]


def _run_tasks(spark: SparkSession, enc_dir: str, tasks: pa.Table,
               reducer, specs: list[dict]):
    """Run a query operator, the block pipeline with its ``reducer``,
    over its :func:`_query_tasks` table, as a DataFrame of the reducer's
    typed output (``reducer.ddl``) for the caller's own Spark operators:
    the scan, DISTINCT, ANALYZE, string top-k's threshold pass and a
    GROUP BY whose partials nothing bounds before the job runs, whose
    outputs grow with rows or key NDV.  The aggregate, COUNT, MIN/MAX,
    int top-k, a bounded GROUP BY and the join's runtime filter fold
    their partials in this process instead (:func:`_task_batches`).  A
    tiny plan (see
    :func:`_driver_local_batches`; an empty task list is one) runs in
    this process and returns a local relation built from the same Arrow
    batches: no Spark job until the caller's own operators, and never a
    Python-worker stage, whose fixed cost (~0.15 s on a 4-core host)
    dwarfs decoding a few blocks.  Any other plan runs as Spark tasks
    (:func:`_spark_run`)."""
    batches = _driver_local_batches(enc_dir, tasks, reducer, specs,
                                    _arrow_schema(reducer.ddl)[1])
    if batches is None:
        return _spark_run(spark, enc_dir, tasks, reducer, specs)
    return _local_relation(spark, reducer.ddl, batches)


def _task_batches(spark: SparkSession, enc_dir: str, tasks: pa.Table,
                  reducer, specs: list[dict]) -> pa.Table:
    """Every task's typed Arrow batch of ``reducer.ddl`` as one table in
    task order, in this process, for an operator that folds its
    partials here: a tiny plan's in-process batches
    (:func:`_driver_local_batches`), else the one Spark stage
    (:func:`_spark_run`) collected with ``toArrow()`` — one job, and no
    second one to combine partials whose count is bounded before the
    job runs (tasks x value columns for the aggregate, k x tasks for
    int top-k, :func:`_group_rows_bound` for a GROUP BY, the
    runtime-filter guard's rows for the join's key set)."""
    schema = _arrow_schema(reducer.ddl)[1]
    batches = _driver_local_batches(enc_dir, tasks, reducer, specs, schema)
    if batches is None:
        return _spark_run(spark, enc_dir, tasks, reducer,
                          specs).toArrow().cast(schema)
    return pa.Table.from_batches(batches, schema)


def _spark_run(spark: SparkSession, enc_dir: str, tasks: pa.Table,
               reducer, specs: list[dict]):
    """The block pipeline as one Spark task per query task, dispatched
    by :func:`rlv.engine_files.run_file_job` — the one Spark call site of
    every query operator, and its only Python-worker stage: each task
    classifies its ``(file, segment)`` and yields the reducer's typed
    Arrow batch, restored in the worker, so no Python node follows it.
    The DataFrame stays lazy for the caller's own operators.  Query
    tasks are not packed per slot as the batch encode's splits are: a
    task's cost is unknown until it is classified, and a clustered range
    predicate's surviving files are adjacent, so a contiguous run would
    put all the real work on one core.  Malloc is tuned in the Python
    workers only: applied to the driver by an in-process run, the same
    settings slowed a wide scan's collect to Arrow by ~0.2 s on a 4-core
    host."""
    symbols = engine_files._load_symbols(enc_dir)
    schema = _arrow_schema(reducer.ddl)[1]
    return engine_files.run_file_job(
        spark, tasks,
        lambda t: _task_frame(
            _classify_file(t["file"], t["segment"], specs, reducer.cols,
                           symbols),
            reducer, schema,
        ),
        reducer.ddl,
    )


def _typed_field_type(schema: dict, c: str) -> str:
    """Spark type of a column as the operators return it: string columns as
    string, int columns at their recorded source width, timestamps/dates/
    floats at their logical type (nanosecond timestamps refuse — Spark
    relations carry microseconds and the engine never truncates; use
    decode/export, which restores ns exactly)."""
    if c in set(schema["str_cols"]):
        return "string"
    alias = _col_alias(schema, c)
    kind = _plane_kind(alias)
    if kind == "int":
        return _SPARK_TYPE_OF_ALIAS.get(alias, "bigint")
    if kind == "epoch":
        ts = _ts_alias_parts(alias)
        if ts:
            if ts[0] == "ns":
                raise ValueError(
                    f"{c!r} is timestamp[ns]: Spark relations carry "
                    "microseconds and the engine never truncates — "
                    "decode/export restores nanoseconds exactly"
                )
            return "timestamp"
        return "date"
    if kind == "dec":
        return "float" if _dec_alias_parts(alias)[1] == "float" \
            else "double"
    return "float" if alias == "float" else "double"


def _col_alias(schema: dict, c: str) -> str:
    """Recorded source alias of an int-plane column."""
    return (schema.get("int_col_types") or {}).get(c, "int64")


def _typed_ddl(schema: dict, cols: list[str]) -> str:
    """Output DDL of dataset columns ``cols`` at their restored types."""
    return ", ".join(f"`{c}` {_typed_field_type(schema, c)}" for c in cols)


def _plane_aliases(schema: dict, cols: list[str]) -> dict:
    """``{col: alias}`` of the int-plane columns among ``cols`` — the
    fields :func:`_typed_batch` restores."""
    strs = set(schema["str_cols"])
    return {c: _col_alias(schema, c) for c in cols if c not in strs}


def _plane_literal(schema: dict, col: str, v, side: str = "lo") -> int:
    """One predicate literal onto the int64 plane of ``col``: plain-int
    columns take ints; timestamp/date columns take ``datetime``/``date``/
    ``numpy.datetime64``/ISO strings (converted in the column's unit) or
    raw epoch ints; float columns take numbers, mapped through the
    total-order key — with ``0`` widened per ``side`` (``lo`` -> the
    ``-0.0`` key, ``hi`` -> the ``+0.0`` key) so SQL's ``-0.0 == 0.0``
    holds on the key plane.  NaN literals are refused (no SQL comparison
    semantics)."""
    alias = (schema.get("int_col_types") or {}).get(col, "int64")
    kind = _plane_kind(alias)
    if kind == "int":
        return int(v)
    if kind == "epoch":
        if isinstance(v, (int, np.integer)):
            return int(v)  # raw epoch in the column's unit
        import datetime as _dt

        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        # exact microsecond epoch first, then side-aware rounding into
        # the column's coarser unit: a literal FINER than the unit must
        # tighten toward the range's inside (lo ceils, hi floors) — plain
        # truncation would widen a lo bound and admit wrong rows
        t_us = int(
            np.datetime64(v).astype("datetime64[us]").astype(np.int64)
        )
        ts = _ts_alias_parts(alias)
        unit = ts[0] if ts else (
            "D" if alias == "date32[day]" else "ms"
        )
        if unit == "ns":
            return t_us * 1000  # finer unit: exact, no rounding
        per_us = {"us": 1, "ms": 1000, "s": 10 ** 6,
                  "D": 86400 * 10 ** 6}[unit]
        q, r = divmod(t_us, per_us)
        return int(q + 1) if side == "lo" and r else int(q)
    fv = float(v)
    if np.isnan(fv):
        raise ValueError(
            f"NaN literal on {col!r}: NaN has no SQL comparison semantics"
        )
    if kind == "dec":
        scale, _ = _dec_alias_parts(alias)
        # the stored grid is the DOUBLES k/10^s (not exact decimals), so
        # bound tightening must compare in double arithmetic: lo -> the
        # smallest grid double >= literal, hi -> the largest <= literal.
        # double(k/10^s) is monotone in k, so checking the neighbors of
        # the nearest k suffices.
        _, src = _dec_alias_parts(alias)
        k0 = int(np.rint(fv * float(10 ** scale)))
        denom = 10 ** scale

        def grid(k):
            g = k / denom
            return float(np.float32(g)) if src == "float" else g

        if side == "lo":
            for k in (k0 - 1, k0, k0 + 1):
                if grid(k) >= fv:
                    return k
            return k0 + 2  # unreachable (k0+1's grid value > fv)
        for k in (k0 + 1, k0, k0 - 1):
            if grid(k) <= fv:
                return k
        return k0 - 2  # unreachable
    if fv == 0.0:
        fv = -0.0 if side == "lo" else 0.0
    dt = np.float32 if alias == "float" else np.float64
    return int(_float_to_keys(np.array([fv], dtype=dt))[0])


def _plane_in_keys(schema: dict, col: str, vals) -> np.ndarray:
    """IN-list literals onto the plane: one key per literal, except a
    float ``0`` contributes BOTH zero keys (``-0.0`` and ``+0.0`` are
    SQL-equal but bit-distinct) and an off-grid decimal literal
    contributes NONE (its lo key rounds up past its hi key — nothing on
    the scaled-int grid equals it)."""
    keys: list[int] = []
    for v in vals:
        lo = _plane_literal(schema, col, v, "lo")
        hi = _plane_literal(schema, col, v, "hi")
        if lo > hi:
            continue  # off-grid decimal literal: equal to no stored value
        keys.append(lo)
        keys.append(hi)
    if not keys:
        # every literal off-grid: an impossible single key (the matcher
        # needs >= 1 literal; zone maps prune it everywhere a real value
        # could live is irrelevant — no row equals it, classification
        # prunes or masks to empty exactly)
        return np.asarray(
            [np.iinfo(np.int64).min], np.int64
        )
    return np.unique(np.asarray(keys, np.int64))


def _require_int_col(enc_dir: str, col: str) -> dict:
    """Load the table schema and validate ``col`` is a zone-mapped int
    column, so a typo or a string column (whose per-block dense-rank codes
    carry meaningless min/max for value predicates) fails on the driver."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if col not in schema["int_cols"]:
        raise ValueError(
            f"{col!r} is not an int column of this dataset "
            f"(int_cols={schema['int_cols']}); zone maps cover int columns"
        )
    return schema


def _require_summable(schema: dict, col: str) -> None:
    """Aggregate VALUE columns must be plain ints or decimal-declared
    floats (whose scaled-int plane sums exactly): a sum of float
    total-order keys or of timestamp epochs is not the SQL aggregate (and
    SQL itself refuses ``sum(timestamp)``).  min/max/count on typed
    columns go through :func:`minmax_table_files_where` /
    :func:`count_table_files_where`, which stay exact on the key plane."""
    alias = (schema.get("int_col_types") or {}).get(col, "int64")
    if _plane_kind(alias) not in ("int", "dec"):
        raise ValueError(
            f"aggregate value column {col!r} has logical type {alias!r}: "
            "sums are only defined for plain int and decimal-declared "
            "columns (use minmax/count/top-k for other typed columns)"
        )


def zonemap_stats(enc_dir: str, col: str, lo: int, hi: int) -> dict:
    """Driver-side pruning estimate from block METADATA only (a column-
    pruned read of the blocks files — no block payload is touched):
    {blocks_total, blocks_matching, rows_total, rows_in_matching}."""
    import pyarrow.parquet as pq

    schema = _require_int_col(enc_dir, col)
    lo = _plane_literal(schema, col, lo, "lo")
    hi = _plane_literal(schema, col, hi, "hi")
    total = match = rows = rows_m = 0
    for path in _live_block_files(enc_dir):
        t = pq.read_table(
            path,
            columns=["col_name", "n_values", "n_runs", "min_val", "max_val"],
            filters=[("col_name", "=", col)],
        )
        nv = t.column("n_values").to_numpy()
        nr = t.column("n_runs").to_numpy()
        mn = t.column("min_val").to_numpy()
        mx = t.column("max_val").to_numpy()
        keep = (nr > 0) & (mx >= lo) & (mn <= hi)
        total += len(t)
        match += int(keep.sum())
        rows += int(nv.sum())
        rows_m += int(nv[keep].sum())
    return {
        "blocks_total": total,
        "blocks_matching": match,
        "rows_total": rows,
        "rows_in_matching": rows_m,
    }


def _literals_matcher(values: tuple[bytes, ...]):
    """Per-block dictionary matcher for eq / IN-list literals: matching
    codes are the per-block ranks of the literals the dictionary contains."""
    def match(uniq) -> np.ndarray:
        import pyarrow.compute as pc

        # one is_in pass over the dictionary: O(ndv + literals), not a
        # full-dictionary pc.index scan per literal (the DPP path routes
        # up to 10k keys through here)
        mask = pc.is_in(
            uniq, value_set=pa.array(values, uniq.type)
        ).to_numpy(zero_copy_only=False)
        return np.flatnonzero(mask).astype(np.int64)

    return match


def _str_range_matcher(lo_b: bytes, hi_b: bytes):
    """Per-block dictionary matcher for ``lo <= col <= hi`` (bytewise —
    UTF-8 byte order == code-point order, the binary collation DuckDB and
    Spark both default to): matching codes are the dictionary entries
    inside the closed range, computed vectorized over the (small) sidecar."""
    def match(uniq) -> np.ndarray:
        import pyarrow.compute as pc

        m = pc.and_(
            pc.greater_equal(uniq, pa.scalar(lo_b, uniq.type)),
            pc.less_equal(uniq, pa.scalar(hi_b, uniq.type)),
        )
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


def _str_prefix_matcher(prefix: bytes):
    """Per-block dictionary matcher for ``col LIKE 'prefix%'``: matching
    codes are the entries whose first ``len(prefix)`` bytes equal the
    prefix (``binary_slice`` never over-reads: shorter entries slice short
    and fail the equality).  The empty prefix matches every valid entry —
    SQL's ``LIKE '%'``."""
    def match(uniq) -> np.ndarray:
        import pyarrow.compute as pc

        if not prefix:
            return np.arange(len(uniq), dtype=np.int64)
        m = pc.equal(
            pc.binary_slice(uniq, 0, len(prefix)),
            pa.scalar(prefix, uniq.type),
        )
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


def _str_contains_matcher(needle: bytes):
    """Per-block dictionary matcher for ``col LIKE '%needle%'``: matching
    codes are the entries containing ``needle`` as a byte substring
    (vectorized Arrow ``match_substring`` over the sorted-distinct
    sidecar).  Unlike prefix/range the dictionary's SORT order can't
    bound the search — but the sidecar is still tiny next to the payload,
    so blocks whose dictionary holds no match prune without a payload
    byte, exactly like the other membership predicates.  The empty needle
    is SQL's ``LIKE '%%'`` — every valid entry."""
    def match(uniq) -> np.ndarray:
        import pyarrow.compute as pc

        if not needle:
            return np.arange(len(uniq), dtype=np.int64)
        m = pc.match_substring(uniq, needle)
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


def _str_suffix_matcher(suffix: bytes):
    """Per-block dictionary matcher for ``col LIKE '%suffix'``: matching
    codes are the entries whose trailing bytes equal ``suffix``
    (vectorized Arrow ``ends_with``).  The empty suffix matches every
    valid entry."""
    def match(uniq) -> np.ndarray:
        import pyarrow.compute as pc

        if not suffix:
            return np.arange(len(uniq), dtype=np.int64)
        m = pc.ends_with(uniq, suffix)
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


def _invert_matcher(match):
    """Complement a dictionary matcher: entries the inner matcher does NOT
    hit.  SQL NULL semantics are unchanged (NULL never matches a negated
    predicate either — ``x <> v`` is UNKNOWN for NULL x), so negation
    happens over dictionary ENTRIES, never over the validity plane."""
    def neg(uniq) -> np.ndarray:
        hits = match(uniq)
        keep = np.ones(len(uniq), bool)
        keep[hits] = False
        return np.flatnonzero(keep).astype(np.int64)

    return neg


def _norm_preds(schema: dict, preds, _top: bool = True) -> list[dict]:
    """Normalize user predicate tuples to pipeline specs.  Accepted forms:
    ``("between", int_col, lo, hi)`` / ``("not_between", int_col, lo, hi)``,
    ``("int_in", int_col, [values...])`` (zone maps prune blocks no literal
    falls inside; constant blocks whose value is a literal full-match),
    ``("eq", str_col, value)`` / ``("ne", str_col, value)``,
    ``("in", str_col, [values...])`` / ``("not_in", str_col, [values...])``,
    ``("str_between", str_col, lo, hi)``, ``("prefix", str_col, p)`` /
    ``("contains", str_col, s)`` / ``("suffix", str_col, s)`` (each with
    a ``not_``-prefixed negation — the LIKE family ``'p%'`` / ``'%s%'``
    / ``'%s'``), and the validity predicates
    ``("isnull", col)`` / ``("notnull", col)`` on EITHER column kind
    (classified from block ``(n_values, n_nulls)`` metadata alone).  Column
    kinds are validated here so a typo fails on the driver, not in a
    task.

    Boolean structure: the ``preds`` list is a CONJUNCTION; ``("or",
    [branch, ...])`` nodes disjoin branches, and each branch may be a
    leaf or ``("and", [leaf, ...])`` — full OR-of-AND inside the
    top-level AND, i.e. any one-alternation WHERE clause.  A top-level
    ``("and", [...])`` splices into the conjunction.  Deeper nesting
    (OR inside a branch's AND) is refused loudly — normalize the clause
    to AND-of-OR-of-AND first.  An ``andgroup`` branch classifies as the
    MIN over its conjuncts (pruned if any conjunct prunes, full if all
    do) and masks as the AND of their row masks.

    A ``between`` / ``int_in`` on an INDEXED int column (``index_cols``)
    additionally emits a classification-only membership spec over the
    column's sidecar keys (``mask_free``: it prunes and full-matches
    blocks but never masks rows — the paired range spec masks exactly),
    so point lookups on unclustered keys skip the blocks that don't hold
    the key.  Top-level only: inside an OR node an extra spec would widen
    the disjunction."""
    specs: list[dict] = []
    known_arity = {
        "between": 4, "not_between": 4, "int_in": 3,
        "eq": 3, "ne": 3, "in": 3, "not_in": 3, "str_between": 4,
        "prefix": 3, "not_prefix": 3, "isnull": 2, "notnull": 2,
        "contains": 3, "not_contains": 3, "suffix": 3, "not_suffix": 3,
    }
    for p in list(preds or ()):
        if not isinstance(p, (tuple, list)) or len(p) < 2:
            raise ValueError(f"malformed predicate {p!r}")
        kind, col = p[0], p[1]
        if kind == "and":
            # top-level AND splices into the conjunction (the whole preds
            # list IS an AND); inside an OR branch it becomes an andgroup
            # leaf below
            if len(p) != 2 or not isinstance(col, (tuple, list)):
                raise ValueError(
                    f"malformed predicate {p!r}: 'and' takes one list of "
                    "conjunct predicates"
                )
            specs.extend(_norm_preds(schema, col, _top=_top))
            continue
        if kind == "or":
            if len(p) != 2 or not isinstance(col, (tuple, list)):
                raise ValueError(
                    f"malformed predicate {p!r}: 'or' takes one list of "
                    "branch predicates"
                )
            branches: list[dict] = []
            for b in col:
                if isinstance(b, (tuple, list)) and len(b) == 2 \
                        and b[0] == "and":
                    conj = _norm_preds(schema, b[1], _top=False)
                    if any(c["kind"] in ("or", "andgroup") for c in conj):
                        raise ValueError(
                            "OR branches nest at most one AND level: "
                            "('or', [..., ('and', [leaf, ...]), ...])"
                        )
                    if len(conj) == 1:
                        branches.append(conj[0])
                    else:
                        branches.append(
                            {"kind": "andgroup", "specs": conj}
                        )
                    continue
                branches.extend(_norm_preds(schema, [b], _top=False))
            if any(b["kind"] == "or" for b in branches):
                raise ValueError("nested OR predicates are not supported")
            if len(branches) == 1:
                specs.append(branches[0])
            else:
                specs.append({"kind": "or", "specs": branches})
            continue
        if kind not in known_arity:
            raise ValueError(f"unknown predicate kind {kind!r}")
        if len(p) != known_arity[kind]:
            raise ValueError(
                f"malformed predicate {p!r}: {kind!r} takes "
                f"{known_arity[kind] - 1} argument(s)"
            )
        if kind in ("isnull", "notnull"):
            if col not in schema["int_cols"] and \
                    col not in schema["str_cols"]:
                raise ValueError(
                    f"{col!r} is not a column of this dataset "
                    f"(int_cols={schema['int_cols']} "
                    f"str_cols={schema['str_cols']})"
                )
            specs.append({"kind": "valid", "col": col,
                          "want_null": kind == "isnull"})
            continue
        if kind in ("between", "not_between", "int_in"):
            if col not in schema["int_cols"]:
                raise ValueError(
                    f"{col!r} is not an int column "
                    f"(int_cols={schema['int_cols']}); {kind!r} predicates "
                    "need a zone-mapped int column"
                )
            if kind in ("between", "not_between"):
                lo_k = _plane_literal(schema, col, p[2], "lo")
                hi_k = _plane_literal(schema, col, p[3], "hi")
                specs.append({
                    "kind": "range", "col": col,
                    "lo": lo_k, "hi": hi_k,
                    "neg": kind == "not_between",
                })
                if _top and kind == "between" and \
                        col in schema.get("index_cols", ()):
                    specs.append({
                        "kind": "member", "col": col,
                        "match": _str_range_matcher(
                            _idx_key_bytes(lo_k), _idx_key_bytes(hi_k)
                        ),
                        "eq_single": None, "mask_free": True,
                    })
            else:
                if isinstance(p[2], (str, bytes)):
                    # list('123') would coerce to literals [1, 2, 3]
                    raise ValueError(
                        f"int_in predicate takes a list of int literals, "
                        f"got a single string {p[2]!r}"
                    )
                if not list(p[2]):
                    raise ValueError(
                        "int_in predicate needs at least one literal"
                    )
                vals = _plane_in_keys(schema, col, list(p[2]))
                specs.append({"kind": "range", "col": col,
                              "lo": int(vals[0]), "hi": int(vals[-1]),
                              "vals": vals, "neg": False})
                if _top and col in schema.get("index_cols", ()):
                    specs.append({
                        "kind": "member", "col": col,
                        "match": _literals_matcher(tuple(
                            _idx_key_bytes(int(v)) for v in vals
                        )),
                        "eq_single": None, "mask_free": True,
                    })
            continue
        if col not in schema["str_cols"]:
            raise ValueError(
                f"{col!r} is not a string column "
                f"(str_cols={schema['str_cols']}); {kind!r} predicates "
                "run on dictionary string columns"
            )
        if kind in ("eq", "ne"):
            v = p[2].encode("utf-8")
            match = _literals_matcher((v,))
            specs.append({
                "kind": "member", "col": col,
                "match": _invert_matcher(match) if kind == "ne" else match,
                "eq_single": v if kind == "eq" else None,
            })
        elif kind in ("in", "not_in"):
            if isinstance(p[2], (str, bytes)):
                # a bare string would iterate as characters and silently
                # match per-character literals
                raise ValueError(
                    f"{kind} predicate takes a list of literals, got a "
                    f"single string {p[2]!r}; use ('eq', col, value) for "
                    "one literal"
                )
            uniq = tuple(sorted({v.encode("utf-8") for v in p[2]}))
            if not uniq:
                raise ValueError(f"{kind} predicate needs at least one "
                                 "literal")
            match = _literals_matcher(uniq)
            specs.append({
                "kind": "member", "col": col,
                "match": _invert_matcher(match) if kind == "not_in"
                else match,
                "eq_single": (
                    uniq[0] if kind == "in" and len(uniq) == 1 else None
                ),
            })
        elif kind == "str_between":
            specs.append({
                "kind": "member", "col": col,
                "match": _str_range_matcher(
                    p[2].encode("utf-8"), p[3].encode("utf-8")
                ),
                "eq_single": None,
            })
        else:  # prefix / contains / suffix and their negations
            base = kind.removeprefix("not_")
            mk = {"prefix": _str_prefix_matcher,
                  "contains": _str_contains_matcher,
                  "suffix": _str_suffix_matcher}[base]
            match = mk(p[2].encode("utf-8"))
            specs.append({
                "kind": "member", "col": col,
                "match": _invert_matcher(match) if kind != base
                else match,
                "eq_single": None,
            })
    if not specs:
        raise ValueError("preds must name at least one predicate")
    return specs


def scan_table_files_where(
    spark: SparkSession, enc_dir: str, preds,
    columns: list[str] | None = None,
):
    """CONJUNCTIVE (AND) predicate pushdown into the encoded format: rows
    satisfying EVERY predicate in ``preds``, projected to ``columns``
    (default: the order column plus each predicate column, in order).

    ``preds`` is an iterable of tuples — ``("between", int_col, lo, hi)``
    / ``("not_between", ...)`` zone-map ranges and ``("int_in", ...)``
    literal sets; ``("eq", str_col, v)`` / ``("ne", ...)``,
    ``("in", str_col, [v...])`` / ``("not_in", ...)``,
    ``("str_between", str_col, lo, hi)``, ``("prefix", str_col, p)`` /
    ``("not_prefix", ...)`` dictionary memberships; ``("isnull", col)`` /
    ``("notnull", col)`` validity predicates on either column kind; and
    ``("or", [leaf, ...])`` disjunction nodes over any of the above (one
    level — AND-of-OR expresses arbitrary WHERE clauses in conjunctive
    normal form), all evaluated together in ONE pass.  A one-element
    list is a single-predicate scan.

    The per-file surviving block set is the INTERSECTION of every
    predicate's block prune (int ranges via parquet filters on the
    payload-free metadata read; memberships via the dictionary sidecars;
    validity predicates via block null counts; an OR node's survivors
    are the UNION of its leaves'), so payload IO is bounded by the MOST
    selective predicate — the same multiplicative skipping a warehouse
    gets from stacking page-stat and dictionary filters.  Row masks AND
    together (OR nodes union their leaf masks first); each predicate
    keeps SQL NULL semantics (NULL never matches, except ``isnull``).
    Int columns come back at their recorded source widths and string
    columns through the per-block dictionaries, NULLs preserved.  One
    task per live (blocks file, segment), zero shuffle; a tiny plan runs
    on the driver instead (:func:`_run_tasks`)."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    specs = _norm_preds(schema, preds)
    reducer = _ScanReducer(schema, specs,
                           _where_out_names(schema, specs, columns))
    return _run_tasks(spark, enc_dir, _query_tasks(enc_dir), reducer, specs)


def semijoin_scan_table_files(
    spark: SparkSession, enc_dir: str, col: str, dim_df,
    dim_key: str | None = None,
    columns: list[str] | None = None,
    max_keys: int = 10_000,
):
    """Dynamic-partition-pruning-style SEMI-JOIN pushdown: rows of the
    encoded table whose ``col`` appears in ``dim_df[dim_key]`` — the
    runtime filter a warehouse derives from the dimension side of a join,
    here pushed into OUR encoded format.

    The dim side's distinct non-NULL keys are collected at the driver
    (bounded by ``max_keys`` — beyond that the collect is the wrong plan
    and a plain join should run instead, so this raises).  A string
    ``col`` pushes the keys as an IN-list through the dictionary-sidecar
    membership scan (blocks containing NO dim key never touch payload); an
    int ``col`` pushes them as an ``int_in`` zone-map predicate (blocks no
    key falls inside prune; survivors mask exactly — no join anywhere).
    NULL fact rows never match (SQL semi-join semantics); an empty dim
    side returns the empty result without touching the table."""
    from pyspark.sql import functions as F

    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    known = set(schema["int_cols"]) | set(schema["str_cols"])
    if col not in known:
        raise ValueError(
            f"{col!r} is not a column of this dataset "
            f"(int_cols={schema['int_cols']} str_cols={schema['str_cols']})"
        )
    dim_key = dim_key if dim_key is not None else col
    keys_df = (
        dim_df.select(F.col(dim_key).alias("__rlv_dpp_key"))
        .where(F.col("__rlv_dpp_key").isNotNull())
        .distinct()
    )
    keys = [r["__rlv_dpp_key"]
            for r in keys_df.limit(max_keys + 1).collect()]
    if len(keys) > max_keys:
        raise ValueError(
            f"dim side exceeds max_keys={max_keys} distinct values — a "
            "driver-collected runtime filter is the wrong plan at that "
            "cardinality; run a plain join instead"
        )
    out_names = _scan_out_names(schema, col, columns)
    if not keys:
        return _local_relation(spark, _typed_ddl(schema, out_names), [])
    kind = "in" if col in schema["str_cols"] else "int_in"
    return scan_table_files_where(
        spark, enc_dir, [(kind, col, keys)], columns=out_names
    )


def _restored_bytes(enc_dir: str, schema: dict, cols: list[str],
                    rows: int) -> int:
    """Estimated size of ``rows`` restored rows of ``cols``: 8 B per
    int-plane column and, per string column, its mean dictionary entry
    length (``raw_bytes / ndv`` summed over the column's sidecar rows —
    a metadata read, no dictionary decoded)."""
    import pyarrow.parquet as pq

    strs = [c for c in cols if c in set(schema["str_cols"])]
    width = 8.0 * (len(cols) - len(strs))
    raw = dict.fromkeys(strs, 0)
    ndv = dict.fromkeys(strs, 0)
    for path in _live_block_files(enc_dir) if strs else []:
        spath = _sidecar_path(path)
        if not os.path.exists(spath):
            continue
        t = pq.read_table(spath, columns=["col_name", "ndv", "raw_bytes"],
                          filters=[("col_name", "in", strs)])
        for name, n, r in zip(t.column("col_name").to_pylist(),
                              t.column("ndv").to_pylist(),
                              t.column("raw_bytes").to_pylist()):
            ndv[name] += n
            raw[name] += r
    width += sum(raw[c] / ndv[c] for c in strs if ndv[c])
    return int(rows * width)


def _join_rows(a: pa.Table, b: pa.Table, on: list[str], how: str) -> int:
    """Exact row count of ``a`` joined to ``b`` on ``on`` (``how``
    ``"inner"`` or ``"left"``), from the two sides' key counts alone:
    the sum over key tuples present on both sides of the product of
    their counts, where a key holding a NULL never matches; LEFT adds
    the rows of ``a`` that match nothing."""
    import pyarrow.compute as pc

    counts = [t.select(on).drop_null().group_by(on, use_threads=False)
              .aggregate([([], "count_all")]) for t in (a, b)]
    m = counts[0].join(counts[1].rename_columns([*on, "count_b"]), on,
                       join_type="inner", use_threads=False)
    n = pc.sum(pc.multiply(m["count_all"], m["count_b"])).as_py() or 0
    if how == "left":
        n += a.num_rows - (pc.sum(m["count_all"]).as_py() or 0)
    return n


def join_table_files(
    spark: SparkSession, enc_a: str, enc_b: str, on,
    preds_a=None, preds_b=None,
    columns_a: list[str] | None = None,
    columns_b: list[str] | None = None,
    broadcast_bytes: int = 64 << 20,
    runtime_filter_max_keys: int = 10_000,
    return_plan: bool = False,
    how: str = "inner",
):
    """General INNER or LEFT join between two encoded datasets — the
    plan that runs when :func:`semijoin_scan_table_files`'s
    driver-collected runtime filter is the wrong shape (fact x fact,
    high-cardinality dims).  Both sides leave the format through their
    own conjunctive pruned scans (predicates prune blocks; the
    projection is pushed down to join keys + requested columns), and
    the restored relations join in this process or in Spark (below).

    Plan choices are decided from the format's own metadata, before a
    payload byte moves:

    * **Broadcast** — each side's exact decode bill comes from the
      EXPLAIN classification (:func:`explain_scan_table_files`'s bill, a
      payload-free metadata pass run on the driver, no Spark job), and
      its restored size is estimated from the same plan
      (:func:`_restored_bytes`: surviving rows x per-column width); the
      smaller side broadcasts when BOTH are ``<= broadcast_bytes`` — a
      heavily compressed side can be tiny encoded and huge restored —
      otherwise Spark's shuffle join runs (AQE may still re-plan at
      runtime).
    * **Runtime filter** — on a single-column join whose key is a plain
      int or string column, the smaller side's distinct keys (metadata-
      cheap: dictionary sidecars / codec-level distinct through
      :class:`_DistinctReducer`, its per-task sets made unique in this
      process by :func:`_task_batches`) push into the LARGER side's scan as
      an ``int_in`` / ``in`` predicate when there are at most
      ``runtime_filter_max_keys`` of them — the DPP shape, shrinking the
      fact scan before the join instead of after it.  More keys than the
      cap: the filter is skipped (never an error — the join itself is
      the right plan then).  The distinct pass is skipped outright when
      the source side's ``rows_surviving`` exceeds ``50 *
      runtime_filter_max_keys``.  That guard bounds ROWS, not key NDV: a
      heavy side with few distinct keys loses a filter it could have
      used.  Results are unaffected either way.
    * **Driver-local sides** — each side's scan runs in this process when
      its plan is tiny (:func:`_driver_local_batches`, run once per
      side); ``plan`` records it as ``driver_local_a`` /
      ``driver_local_b``.  Any other side is one Spark stage
      (:func:`_spark_run`).
    * **Driver join** — when both sides are driver-local, every ``on``
      column is a plain int or string (the runtime filter's own
      restriction: float keys would need SQL's ``-0.0``/NaN merge) and
      the exact output (:func:`_join_rows`, from the two sides' key
      counts) times the output columns is at most
      ``_DRIVER_LOCAL_MAX_CELLS``, the sides join in this process with
      ``pa.Table.join`` and the result is a local relation: no Spark
      job.  Otherwise Spark joins the two relations.  ``plan`` records
      the choice as ``driver_join``.

    ``on`` is one column name or a list present on BOTH sides with equal
    restored Spark types; non-key projected columns must not collide
    (Spark cannot disambiguate them after the join).  SQL join semantics
    throughout — NULL keys never match (the runtime filter collects
    non-NULL keys only, so it cannot change results).  ``how`` is
    ``"inner"`` (default) or ``"left"`` — LEFT preserves side A, so plan
    asymmetries apply: only side B may broadcast (Spark cannot broadcast
    the preserved side of an outer join) and the runtime filter may only
    flow A -> B (filtering B cannot drop preserved A rows; the reverse
    would).  With ``return_plan=True`` returns ``(df, plan)`` where
    ``plan`` records both bills and the decisions, for tests and
    operators.
    """
    from pyspark.sql import functions as F

    on_cols = [on] if isinstance(on, str) else list(on)
    if not on_cols:
        raise ValueError("on must name at least one join column")
    sides = []
    for enc_dir, preds, columns in (
        (enc_a, preds_a, columns_a), (enc_b, preds_b, columns_b),
    ):
        schema = _load_table_schema(enc_dir)
        if schema is None:
            raise FileNotFoundError(
                f"no table schema recorded at {enc_dir}"
            )
        known = set(schema["int_cols"]) | set(schema["str_cols"])
        missing = [c for c in on_cols if c not in known]
        if missing:
            raise ValueError(
                f"join column(s) {missing} not in {enc_dir} "
                f"(int_cols={schema['int_cols']} "
                f"str_cols={schema['str_cols']})"
            )
        out_names = list(dict.fromkeys(
            [*on_cols, *(columns if columns is not None else [])]
        ))
        # a predicate-free side still routes through the shared pruned
        # scan: the order column is non-NULL by construction, so its
        # notnull is a metadata-only predicate that full-matches every
        # block (no extra decode, no extra payload column — notnull
        # needs no payload read)
        eff_preds = list(preds) if preds else [
            ("notnull", schema["order_col"])
        ]
        sides.append({
            "enc": enc_dir, "schema": schema, "preds": eff_preds,
            "columns": out_names, "tasks": _query_tasks(enc_dir),
        })
    for c in on_cols:
        ta = _typed_field_type(sides[0]["schema"], c)
        tb = _typed_field_type(sides[1]["schema"], c)
        if ta != tb:
            raise ValueError(
                f"join key {c!r} restores to {ta} on one side and {tb} "
                "on the other — encode the sides to matching types"
            )
    clash = (set(sides[0]["columns"]) & set(sides[1]["columns"])) \
        - set(on_cols)
    if clash:
        raise ValueError(
            f"non-key column(s) {sorted(clash)} projected from both "
            "sides — rename or drop one side's"
        )

    if how not in ("inner", "left"):
        raise ValueError(
            f"how must be 'inner' or 'left', got {how!r}"
        )
    for s in sides:
        bill = _scan_bill(s["enc"], s["tasks"], s["preds"], s["columns"])
        s["payload_bytes"] = bill.get("payload_bytes", 0)
        s["rows_surviving"] = bill.get("rows_surviving", 0)
        s["restored_bytes"] = _restored_bytes(
            s["enc"], s["schema"], s["columns"], s["rows_surviving"]
        )
    small, big = sorted(sides, key=lambda s: s["payload_bytes"])
    if how == "left":
        # only side B may broadcast (Spark cannot broadcast the
        # preserved side of an outer join), and only A's keys may filter
        # B (filtering B never drops preserved A rows; the reverse would)
        small, big = sides[1], sides[0]
    plan = {
        "payload_bytes_a": sides[0]["payload_bytes"],
        "payload_bytes_b": sides[1]["payload_bytes"],
        "restored_bytes_a": sides[0]["restored_bytes"],
        "restored_bytes_b": sides[1]["restored_bytes"],
        "broadcast": max(small["payload_bytes"], small["restored_bytes"])
        <= broadcast_bytes,
        "runtime_filter_keys": None,
    }

    # DPP-style runtime filter from the metadata-smaller side (inner) /
    # the preserved side (left), single plain-int/string key only (typed
    # planes would need side-aware literal mapping the IN spec does not
    # carry); on a LEFT join the key source is A regardless of size, so
    # only attempt it when A's bill is also the smaller one — the
    # distinct pass stays as cheap as the inner-join case
    filter_src, filter_dst = (small, big) if how == "inner" else (
        (sides[0], sides[1])
        if sides[0]["payload_bytes"] <= sides[1]["payload_bytes"]
        else (None, None)
    )
    if len(on_cols) == 1 and runtime_filter_max_keys > 0 \
            and filter_src is not None \
            and filter_src["rows_surviving"] \
            <= 50 * runtime_filter_max_keys:
        # the rows_surviving guard (metadata-free: it is already in the
        # EXPLAIN bill) skips the distinct pass when the source side is
        # so large its key set would almost surely exceed the cap — a
        # fact x fact join must not pay a distinct shuffle to learn the
        # filter does not apply
        key = on_cols[0]
        kschema = filter_src["schema"]
        alias = (kschema.get("int_col_types") or {}).get(key, "int64")
        is_str = key in set(kschema["str_cols"])
        if is_str or _plane_kind(alias) == "int":
            import pyarrow.compute as pc

            keys = pc.unique(_task_batches(
                spark, filter_src["enc"], filter_src["tasks"],
                _DistinctReducer(kschema, key),
                _norm_preds(kschema, filter_src["preds"]),
            ).column(key).drop_null()).to_pylist()
            if 0 < len(keys) <= runtime_filter_max_keys:
                filter_dst["preds"] = list(filter_dst["preds"]) + [
                    ("in" if is_str else "int_in", key, keys)
                ]
                plan["runtime_filter_keys"] = len(keys)

    for name, s in zip("ab", sides):
        s["specs"] = _norm_preds(s["schema"], s["preds"])
        s["reducer"] = _ScanReducer(s["schema"], s["specs"], _where_out_names(
            s["schema"], s["specs"], s["columns"]))
        s["arrow"] = _arrow_schema(s["reducer"].ddl)[1]
        s["batches"] = _driver_local_batches(
            s["enc"], s["tasks"], s["reducer"], s["specs"], s["arrow"])
        plan[f"driver_local_{name}"] = s["batches"] is not None
    rest = [[c for c in s["columns"] if c not in on_cols] for s in sides]
    out_names = [*on_cols, *rest[0], *rest[1]]
    plan["driver_join"] = False
    if plan["driver_local_a"] and plan["driver_local_b"] and all(
        c in s["schema"]["str_cols"]
        or _plane_kind(_col_alias(s["schema"], c)) == "int"
        for s in sides for c in on_cols
    ):
        ta, tb = (pa.Table.from_batches(s["batches"], s["arrow"])
                  for s in sides)
        plan["driver_join"] = _join_rows(ta, tb, on_cols, how) \
            * len(out_names) <= _DRIVER_LOCAL_MAX_CELLS
    if plan["driver_join"]:
        # NULL keys never match in pyarrow's hash join, as in SQL
        out = ta.join(tb, on_cols, use_threads=False, join_type=(
            "inner" if how == "inner" else "left outer")).select(out_names)
        df = _local_relation(spark, ", ".join(filter(None, (
            _typed_ddl(sides[0]["schema"], [*on_cols, *rest[0]]),
            _typed_ddl(sides[1]["schema"], rest[1]),
        ))), out.to_batches())
        return (df, plan) if return_plan else df
    dfs = {
        id(s): _spark_run(spark, s["enc"], s["tasks"], s["reducer"],
                          s["specs"])
        if s["batches"] is None
        else _local_relation(spark, s["reducer"].ddl, s["batches"])
        for s in sides
    }
    small_df, big_df = dfs[id(small)], dfs[id(big)]
    if plan["broadcast"]:
        small_df = F.broadcast(small_df)
    # LEFT: A must be the left operand (big/small were remapped above so
    # big IS side A); inner is orientation-free
    out = big_df.join(small_df, on=on_cols, how=how).select(*out_names)
    return (out, plan) if return_plan else out


def ctas_table_files(
    spark: SparkSession, src_enc: str, dst_dir: str, preds,
    columns: list[str] | None = None,
    cluster_by: str | None = None,
    rows_per_block: int = 4096,
    stage_dir: str | None = None,
) -> dict:
    """CREATE TABLE AS SELECT over the encoded format: materialize the
    rows matching the predicate CONJUNCTION (``preds`` — the same five
    kinds :func:`scan_table_files_where` takes), projected to ``columns``,
    as a NEW encoded dataset at ``dst_dir`` — the derived-dataset step of
    a curation pipeline (filter a corpus, keep the good slice encoded).

    The read side is the zero-shuffle conjunctive pruned scan (source
    blocks the predicates exclude are never decoded); the scan output
    stages as parquet at its recorded source widths and re-encodes with
    the standard per-file planning.  By default the source's order column
    must ride the projection (it keeps the new dataset self-describing
    and its strict order survives filtering); pass ``cluster_by`` to
    instead re-cluster the result on one of the projected columns
    (:func:`cluster_encode_table_files` mints the new order column).
    The source's corpus FSST symbol table, if any, carries over so string
    encoding stays consistent.  For a full unfiltered copy use
    :func:`decode_table_files` + re-encode; CTAS requires ≥1 predicate.

    The staged scan output lands at ``dst_dir/source`` (or ``stage_dir``)
    and is KEPT — it is the child dataset's recorded input, which lineage
    verify replays split-for-split (the clustered variant keeps its SORTED
    stage there instead, via :func:`cluster_encode_table_files`)."""
    import glob as _glob
    import shutil
    import tempfile

    schema = _load_table_schema(src_enc)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {src_enc}")
    if _load_table_schema(dst_dir) is not None:
        raise ValueError(
            f"{dst_dir} already holds an encoded table — CTAS needs a "
            "fresh dst_dir (each run stages its own scan output; resuming "
            "against another run's stage would mix lineages)"
        )
    out_names = _where_out_names(
        schema, _norm_preds(schema, preds), columns
    )
    order_col = schema["order_col"]
    if cluster_by is None:
        if order_col not in out_names:
            raise ValueError(
                f"projection must keep the source order column "
                f"{order_col!r} (or pass cluster_by to mint a new one)"
            )
    elif cluster_by not in out_names:
        raise ValueError(
            f"cluster_by {cluster_by!r} must be one of the projected "
            f"columns {out_names}"
        )
    df = scan_table_files_where(spark, src_enc, preds, columns=out_names)
    int_out = [c for c in out_names if c in schema["int_cols"]]
    str_out = [c for c in out_names if c in schema["str_cols"]]
    symbols = engine_files._load_symbols(src_enc)
    # decimal declarations survive CTAS: the staged scan output holds the
    # restored doubles, so re-declaring the source scales keeps the
    # destination's exact-sum plane (and re-checks round-trip per split)
    src_types = schema.get("int_col_types") or {}
    dec_out = {
        c: _dec_alias_parts(src_types[c])[0]
        for c in int_out
        if _dec_alias_parts(src_types.get(c, "int64"))
    } or None
    idx_out = [
        c for c in out_names if c in schema.get("index_cols", ())
    ] or None
    if cluster_by is not None:
        # the clustered variant re-sorts anyway, so the scan output is
        # only a transient input: cluster-encode keeps ITS sorted stage
        # as the recorded source under dst_dir/source
        tmp_stage = tempfile.mkdtemp(prefix="rlv_ctas_stage_")
        try:
            df.write.mode("overwrite").parquet(tmp_stage)
            files = sorted(
                _glob.glob(os.path.join(tmp_stage, "part-*.parquet"))
            )
            if not files:
                raise ValueError(
                    "CTAS staged zero files — empty scan output"
                )
            return cluster_encode_table_files(
                spark, files, dst_dir, cluster_by=cluster_by,
                int_cols=int_out, str_cols=str_out,
                rows_per_block=rows_per_block,
                fsst_symbols=symbols,
                stage_dir=stage_dir,
                decimal_cols=dec_out,
                index_cols=idx_out,
            )
        finally:
            shutil.rmtree(tmp_stage, ignore_errors=True)
    stage = (
        os.path.join(dst_dir, "source") if stage_dir is None else stage_dir
    )
    df.write.mode("overwrite").parquet(stage)
    files = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))
    if not files:
        raise ValueError("CTAS staged zero files — empty scan output")
    return encode_table_files(
        spark, files, dst_dir,
        order_col=order_col, int_cols=int_out, str_cols=str_out,
        rows_per_block=rows_per_block, num_tasks=len(files),
        fsst_symbols=symbols,
        decimal_cols=dec_out,
        index_cols=idx_out,
    )


def strdict_stats(enc_dir: str, col: str, value: str) -> dict:
    """Driver-side membership-pruning estimate for a string literal from the
    dictionary sidecars alone (no payload touched):
    ``{blocks_total, blocks_matching}`` — the string analog of
    :func:`zonemap_stats`."""
    from rlv import blocks as B

    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if col not in schema["str_cols"]:
        raise ValueError(
            f"{col!r} is not a string column of this dataset "
            f"(str_cols={schema['str_cols']})"
        )
    import pyarrow.compute as pc

    syms = engine_files._load_symbols(enc_dir)
    needle = value.encode("utf-8")
    total = match = 0
    for bpath in _live_block_files(enc_dir):
        sid = os.path.splitext(os.path.basename(bpath))[0]
        for blob in _read_dict_sidecar(bpath, sid, col=col).values():
            total += 1
            uniq = B.decode_strings_arrow(blob, syms)
            if pc.index(uniq, pa.scalar(needle, uniq.type)).as_py() >= 0:
                match += 1
    return {"blocks_total": total, "blocks_matching": match}


def _scan_out_names(schema: dict, col: str,
                    columns: list[str] | None) -> list[str]:
    """Validate ``columns``, or default the projection to ``(order_col,
    col)`` (just ``(order_col,)`` when ``col`` is the order column)."""
    order_col = schema["order_col"]
    if columns is None:
        return [order_col] if col == order_col else [order_col, col]
    out_names = list(columns)
    if not out_names:
        raise ValueError("columns must name at least one column")
    if len(set(out_names)) != len(out_names):
        raise ValueError(f"duplicate column in projection: {out_names}")
    known = set(schema["int_cols"]) | set(schema["str_cols"])
    unknown = [c for c in out_names if c not in known]
    if unknown:
        raise ValueError(
            f"unknown column(s) {unknown}; dataset has "
            f"int_cols={schema['int_cols']} "
            f"str_cols={schema['str_cols']}"
        )
    return out_names


def _where_out_names(schema: dict, specs: list[dict],
                     columns: list[str] | None) -> list[str]:
    """Projection of a conjunctive scan: ``columns`` validated, or by
    default the order column plus each predicate column, in order."""
    pred_cols = _spec_cols(specs)
    if columns is None:
        return list(dict.fromkeys([schema["order_col"], *pred_cols]))
    return _scan_out_names(schema, pred_cols[0], columns)


def _int_pred_class(p: dict, nv: int, nn: int, nr: int, mn: int, mx: int):
    """Classify one block against a metadata predicate spec: ``None`` =
    pruned, ``'full'`` = every one of the block's ``nv`` rows matches (no
    decode needed), ``'partial'`` = decode and mask.  A plain range prunes
    on zone-map disjointness and full-matches when the zone map nests in
    the range; a NEGATED range (``p["neg"]``) is the mirror — prunes when
    the zone map nests INSIDE [lo, hi], full-matches a no-NULL block whose
    zone map misses it entirely; an IN-list (``p["vals"]`` — sorted int64
    array) prunes when no literal falls inside the zone map and
    full-matches only a constant block whose value is a literal; a
    validity predicate (``kind == "valid"``) classifies from
    ``(n_values, n_nulls)`` alone and works on either column kind."""
    if p.get("kind") == "valid":
        if p["want_null"]:
            return None if nn == 0 else ("full" if nn == nv else "partial")
        return None if nn == nv else ("full" if nn == 0 else "partial")
    if p.get("neg"):
        # rows match when v < lo OR v > hi (== SQL NOT BETWEEN, also for
        # the lo > hi empty range, where every valid row matches)
        if nr == 0 or (mn >= p["lo"] and mx <= p["hi"]):
            return None  # pruned (all-NULL blocks match nothing)
        return (
            "full" if nn == 0 and (mx < p["lo"] or mn > p["hi"])
            else "partial"
        )
    if nr == 0 or mx < p["lo"] or mn > p["hi"]:
        return None  # pruned (all-NULL blocks match nothing)
    vals = p.get("vals")
    if vals is None:
        return (
            "full" if nn == 0 and mn >= p["lo"] and mx <= p["hi"]
            else "partial"
        )
    j = int(np.searchsorted(vals, mn))
    if j >= vals.size or int(vals[j]) > mx:
        return None  # no literal inside the zone map
    return "full" if nn == 0 and mn == mx and int(vals[j]) == mn \
        else "partial"


def _int_pred_rowmask(p: dict, pv: np.ndarray,
                      pvalid: np.ndarray) -> np.ndarray:
    """Row mask of one decoded block against a metadata predicate spec."""
    if p.get("kind") == "valid":
        return ~pvalid if p["want_null"] else pvalid.copy()
    if p.get("neg"):
        return pvalid & ((pv < p["lo"]) | (pv > p["hi"]))
    vals = p.get("vals")
    if vals is None:
        return pvalid & (pv >= p["lo"]) & (pv <= p["hi"])
    return pvalid & np.isin(pv, vals)


def _spec_parts(preds: list[dict]):
    """Partition normalized specs into the three predicate families:
    metadata predicates (int ranges + validity), dictionary memberships,
    and OR nodes (each a list of leaf specs)."""
    int_preds = [p for p in preds if p["kind"] in ("range", "valid")]
    mem_preds = [p for p in preds if p["kind"] == "member"]
    or_nodes = [p["specs"] for p in preds if p["kind"] == "or"]
    return int_preds, mem_preds, or_nodes


def _leaf_atoms(leaf: dict) -> list[dict]:
    """Atomic specs of one OR-node leaf: an ``andgroup`` leaf's conjuncts,
    else the leaf itself."""
    return leaf["specs"] if leaf["kind"] == "andgroup" else [leaf]


def _spec_cols(specs: list[dict]) -> list[str]:
    """Predicate columns in first-mention order, OR leaves (and their
    andgroup conjuncts) flattened."""
    cols: list[str] = []
    for p in specs:
        for leaf in (p["specs"] if p["kind"] == "or" else (p,)):
            for atom in _leaf_atoms(leaf):
                cols.append(atom["col"])
    return list(dict.fromkeys(cols))


# ---------------------------------------------------------------------------
# The block pipeline.  Every pushdown operator runs the same four steps per
# query task (:func:`_task_frame`): classify (:func:`_classify_file`:
# metadata, zone maps and dictionary sidecars, no payload) -> need (the
# operator reducer's (column, block) payload pairs plus the predicate
# columns its partial blocks mask on) -> fetch (:func:`_fetch_payloads`,
# one filtered read) -> decode/mask (:class:`_Blocks`) -> ``reducer.fold``.
# EXPLAIN runs the same steps up to the need, with no fetch
# (:func:`_explain_task`), so its bill is what the run reads.
# ---------------------------------------------------------------------------


class _Dicts:
    """One task's dictionary sidecar, read on demand: :meth:`load` reads
    the (column, block) pairs not read yet in one filtered read, and each
    dictionary decodes once, on first :meth:`get`."""

    def __init__(self, path: str, file_sid: str, seg: str | None,
                 symbols):
        self.path, self.file_sid, self.seg = path, file_sid, seg
        self.symbols = symbols
        self.blobs: dict[tuple[str, str, int], bytes] = {}
        self.arrays: dict[tuple[str, str, int], object] = {}
        self.loaded: dict[str, set[int]] = {}

    def load(self, want: dict[str, set[int]]) -> None:
        miss = {c: set(bis) - self.loaded.get(c, set())
                for c, bis in want.items()}
        miss = {c: bis for c, bis in miss.items() if bis}
        if not miss:
            return
        self.blobs.update(_read_dict_sidecar(
            self.path, self.file_sid, col=sorted(miss),
            block_idx=sorted(set().union(*miss.values())), seg=self.seg,
        ))
        for c, bis in miss.items():
            self.loaded.setdefault(c, set()).update(bis)

    def get(self, seq: str, col: str, bi: int):
        """Decoded dictionary of one loaded block, or None when the
        sidecar has no row for it (an indexed int column's all-NULL
        block)."""
        k = (seq, col, bi)
        arr = self.arrays.get(k)
        if arr is None and k in self.blobs:
            from rlv import blocks as B

            arr = self.arrays[k] = B.decode_strings_arrow(
                self.blobs[k], self.symbols
            )
        return arr


class _Plan:
    """One query task's classification (:func:`_classify_file`).

    ``info[col][key]`` is ``(n_values, n_nulls, n_runs, min_val,
    max_val)``, ``ebytes`` / ``sums`` the recorded ``enc_bytes`` /
    ``sum_val`` per (column, key) (``sum_val`` None on files that predate
    it) — every block of a predicate column, only the surviving blocks
    of the operator's other columns; ``keys`` are all of the task's
    blocks, ``nv[key]`` their rows; ``cls`` maps every surviving key
    to ``'full'`` or ``'partial'`` and the ``pred_cls`` / ``mem_codes`` /
    ``mem_full`` / ``or_data`` lists are what the row masks need (see
    :func:`_pred_classify`).  ``side`` holds the task's decoded
    dictionaries.  Keys are ``(split_seq, block_idx)``."""

    def __init__(self, path: str, seg: str | None, specs: list[dict],
                 symbols):
        self.path, self.seg = path, seg
        self.file_sid = os.path.splitext(os.path.basename(path))[0]
        self.int_preds, self.mem_preds, self.or_nodes = _spec_parts(specs)
        self.side = _Dicts(path, self.file_sid, seg, symbols)

    @property
    def rows_surviving(self) -> int:
        return sum(self.nv[k] for k in self.cls)


def _classify_file(path: str, seg: str | None, specs: list[dict],
                   cols: list[str], symbols) -> _Plan:
    """Classify step of the block pipeline: a payload-free metadata read
    of the predicate columns, predicate classification
    (:func:`_pred_classify`), then — only when a block survives — one
    more metadata read of the operator's other columns ``cols`` at the
    surviving blocks (a pruned task never reads them; with no predicates
    ``cols`` are read once and every block is full).  Every read runs the
    inventory cross-checks: each column covers the same blocks with the
    same row counts, so a lost column fails loudly instead of silently
    undercounting.  ``seg`` scopes a segment task of a compacted file to
    its own split (the ``split_seq`` filter prunes to that segment's row
    groups)."""
    import pyarrow.parquet as pq

    plan = _Plan(path, seg, specs, symbols)
    plan.has_sums = "sum_val" in pq.read_schema(path).names
    plan.info, plan.ebytes, plan.sums = {}, {}, {}
    first = _spec_cols(specs) or list(cols)
    _read_meta(plan, first)
    ref = plan.info[first[0]]
    plan.keys = set(ref)
    plan.nv = {k: ref[k][0] for k in plan.keys}
    _check_inventory(plan, first, plan.keys)
    _pred_classify(plan)
    rest = [c for c in cols if c not in plan.info]
    if rest:
        _read_meta(plan, rest, set(plan.cls))
        _check_inventory(plan, rest, set(plan.cls), ref_col=first[0])
    return plan


def _read_meta(plan: _Plan, cols: list[str], keys: set | None = None):
    """Block metadata of ``cols`` into ``plan``'s ``info`` / ``ebytes`` /
    ``sums`` maps, for every block or only ``keys`` (no read when
    ``keys`` is empty)."""
    import pyarrow.parquet as pq

    for c in cols:
        plan.info[c], plan.ebytes[c], plan.sums[c] = {}, {}, {}
    if keys is not None and not keys:
        return
    meta_cols = ["split_seq", "col_name", "block_idx", "n_values",
                 "n_nulls", "n_runs", "min_val", "max_val", "enc_bytes"]
    if plan.has_sums:
        meta_cols.append("sum_val")
    filters: list = [("col_name", "in", cols)]
    if keys is not None:
        filters.append(("block_idx", "in", sorted({bi for _, bi in keys})))
    if plan.seg is not None:
        filters.append(("split_seq", "=", plan.seg))
    meta = pq.read_table(
        plan.path, columns=meta_cols, filters=filters,
    ).combine_chunks()
    for sid, segment in _split_segments(meta, plan.file_sid):
        for name, bi, nv, nn, nr, mn, mx, eb, sm in zip(
            segment.column("col_name").to_pylist(),
            *(segment.column(c).to_numpy().tolist()
              for c in meta_cols[2:9]),
            segment.column("sum_val").to_pylist() if plan.has_sums
            else [None] * len(segment),
        ):
            key = (sid, bi)
            if keys is not None and key not in keys:
                continue  # another segment's block of a whole-file task
            plan.info[name][key] = (nv, nn, nr, mn, mx)
            plan.ebytes[name][key] = eb
            plan.sums[name][key] = None if sm is None else int(sm)


def _check_inventory(plan: _Plan, cols: list[str], keys: set,
                     ref_col: str | None = None) -> None:
    """Every column of ``cols`` covers exactly ``keys`` with the rows
    ``plan.nv`` records (read from ``ref_col``, default ``cols[0]``)."""
    ref_col = ref_col or cols[0]
    for c in cols:
        if set(plan.info[c]) != keys:
            raise ValueError(
                f"columns {ref_col!r} and {c!r} cover different "
                "blocks — corrupt dataset"
            )
        for key in keys:
            if plan.info[c][key][0] != plan.nv[key]:
                raise ValueError(
                    f"column {c!r} and {ref_col!r} disagree on rows "
                    f"in block {key[1]} — corrupt dataset"
                )


def _pred_classify(plan: _Plan) -> None:
    """Per-predicate block classification into ``plan``: ``pred_cls``
    lists the int preds' class maps, then the member preds', then one
    COMBINED map per OR node, each mapping key -> 'full'|'partial'
    (absent = pruned); ``mem_codes[i]`` holds member pred i's per-block
    matching code sets and ``mem_full[i]`` the keys whose WHOLE
    dictionary matches (only NULL rows can fail there).  An OR node
    classifies as the leaf UNION: pruned only when every leaf prunes,
    full when ANY leaf full-matches; ``or_data[j] = (leaf_cls,
    leaf_mem)`` keeps the per-leaf maps (and, for member leaves, their
    ``(codes, whole)``) for masking; an ``andgroup`` leaf is pruned when
    ANY conjunct prunes and full when ALL full-match.  ``cls`` is the
    combined class: pruned if ANY predicate prunes, full if ALL
    full-match; no predicates = every key full.

    Predicates classify in that order over the keys still alive, so the
    dictionary sidecar is read only when the int predicates leave a
    survivor — once, for every membership column (top level and OR
    leaves) — and each dictionary decodes once per task however many
    predicates use it."""
    alive = {k: "full" for k in plan.keys}
    mem_cols = sorted(
        {p["col"] for p in plan.mem_preds}
        | {a["col"] for node in plan.or_nodes for leaf in node
           for a in _leaf_atoms(leaf) if a["kind"] == "member"}
    )

    def meet(cl: dict) -> None:
        for k in list(alive):
            kind = cl.get(k)
            if kind is None:
                del alive[k]
            elif kind == "partial":
                alive[k] = "partial"

    def leaf(atom: dict):
        col_info = plan.info[atom["col"]]
        cl: dict = {}
        if atom["kind"] in ("range", "valid"):
            for k in alive:
                kind = _int_pred_class(atom, *col_info[k])
                if kind is not None:
                    cl[k] = kind
            return cl, None
        if alive:
            bis = {bi for _, bi in alive}
            plan.side.load({c: bis for c in mem_cols})
        codes: dict = {}
        whole: set = set()
        for k in alive:
            uniq = plan.side.get(k[0], atom["col"], k[1])
            if uniq is None:
                continue
            hits = atom["match"](uniq)
            if not hits.size:
                continue  # pruned: no dictionary entry matches
            codes[k] = hits
            if hits.size == len(uniq):
                whole.add(k)
                cl[k] = "full" if col_info[k][1] == 0 else "partial"
            else:
                cl[k] = "partial"
        return cl, (codes, whole)

    plan.pred_cls, plan.mem_codes, plan.mem_full, plan.or_data = \
        [], [], [], []
    for p in plan.int_preds:
        cl, _ = leaf(p)
        plan.pred_cls.append(cl)
        meet(cl)
    for p in plan.mem_preds:
        cl, (codes, whole) = leaf(p)
        plan.pred_cls.append(cl)
        plan.mem_codes.append(codes)
        plan.mem_full.append(whole)
        meet(cl)
    for node in plan.or_nodes:
        leaf_cls: list[dict] = []
        leaf_mem: list = []
        for lf in node:
            if lf["kind"] != "andgroup":
                cl, mem = leaf(lf)
                leaf_cls.append(cl)
                leaf_mem.append(mem)
                continue
            atom_cls, atom_mem = [], []
            for atom in lf["specs"]:
                acl, amem = leaf(atom)
                atom_cls.append(acl)
                atom_mem.append(amem)
            gcl: dict = {}
            for k in atom_cls[0]:
                kinds = [cl.get(k) for cl in atom_cls]
                if None not in kinds:
                    gcl[k] = ("full" if all(x == "full" for x in kinds)
                              else "partial")
            leaf_cls.append(gcl)
            leaf_mem.append(("and", atom_cls, atom_mem))
        ncl: dict = {}
        for cl in leaf_cls:
            for k, kind in cl.items():
                if kind == "full":
                    ncl[k] = "full"
                else:
                    ncl.setdefault(k, "partial")
        plan.pred_cls.append(ncl)
        plan.or_data.append((leaf_cls, leaf_mem))
        meet(ncl)
    plan.cls = alive


def _pred_need_cols(plan: _Plan, key) -> set[str]:
    """Columns whose payload one PARTIAL block must decode to mask: every
    non-full top-level predicate's column, plus — for each non-full OR
    node — the columns of its partial leaves (pruned leaves contribute
    nothing, and a full leaf would have made the node full)."""
    cols: set[str] = set()
    for cl, p in zip(plan.pred_cls, [*plan.int_preds, *plan.mem_preds]):
        if p.get("mask_free"):
            continue  # classification-only (indexed-int membership)
        if cl.get(key) != "full":
            cols.add(p["col"])
    base = len(plan.int_preds) + len(plan.mem_preds)
    for ni, node in enumerate(plan.or_nodes):
        if plan.pred_cls[base + ni].get(key) == "full":
            continue
        leaf_cls, leaf_mem = plan.or_data[ni]
        for li, leaf in enumerate(node):
            if leaf_cls[li].get(key) != "partial":
                continue
            if leaf["kind"] == "andgroup":
                # a partial group masks as the AND of its conjuncts:
                # only the conjuncts not full at this block decode
                _, atom_cls, _ = leaf_mem[li]
                for ai, atom in enumerate(leaf["specs"]):
                    if atom_cls[ai].get(key) != "full":
                        cols.add(atom["col"])
            else:
                cols.add(leaf["col"])
    return cols


def _pred_mask(plan: _Plan, key, dec) -> np.ndarray:
    """AND row mask for one PARTIAL block: decode (``dec(col)`` ->
    ``(values, validity)``) only the predicates not full-matching there;
    a member pred whose whole dictionary matches drops NULL rows only (no
    set test).  An OR node contributes the UNION of its leaf masks (a
    leaf pruned at this block contributes nothing; a full leaf cannot
    occur in a partial node)."""
    n_int = len(plan.int_preds)
    mask = np.ones(plan.nv[key], bool)
    for cl, p in zip(plan.pred_cls[:n_int], plan.int_preds):
        if cl.get(key) == "full":
            continue
        pv, pvalid = dec(p["col"])
        mask &= _int_pred_rowmask(p, pv, pvalid)
    for mi, (cl, p) in enumerate(zip(plan.pred_cls[n_int:],
                                     plan.mem_preds)):
        if cl.get(key) == "full" or p.get("mask_free"):
            continue
        pv, pvalid = dec(p["col"])
        if key in plan.mem_full[mi]:
            mask &= pvalid
        else:
            mask &= pvalid & np.isin(pv, plan.mem_codes[mi][key])

    def atom_mask(atom, mem):
        pv, pvalid = dec(atom["col"])
        if atom["kind"] in ("range", "valid"):
            return _int_pred_rowmask(atom, pv, pvalid)
        codes, whole = mem
        if key in whole:
            return pvalid.copy()
        return pvalid & np.isin(pv, codes[key])

    base = n_int + len(plan.mem_preds)
    for ni, node in enumerate(plan.or_nodes):
        if plan.pred_cls[base + ni].get(key) == "full":
            continue
        leaf_cls, leaf_mem = plan.or_data[ni]
        nm = np.zeros(plan.nv[key], bool)
        for li, leaf in enumerate(node):
            if leaf_cls[li].get(key) is None:
                continue
            if leaf["kind"] == "andgroup":
                # group mask = AND over conjuncts; a conjunct full at
                # this block matches every row (no decode)
                _, atom_cls, atom_mem = leaf_mem[li]
                gm = np.ones(plan.nv[key], bool)
                for ai, atom in enumerate(leaf["specs"]):
                    if atom_cls[ai].get(key) != "full":
                        gm &= atom_mask(atom, atom_mem[ai])
                nm |= gm
            else:
                nm |= atom_mask(leaf, leaf_mem[li])
        mask &= nm
    return mask


def _fetch_payloads(path: str, file_sid: str, seg: str | None,
                    need: dict[str, set[int]]
                    ) -> dict[tuple[str, str, int], bytes]:
    """Fetch step of the block pipeline: ONE filtered payload read
    covering every needed column, returning ``{(split_seq, col,
    block_idx): blob}`` for exactly the needed (column, block_idx) pairs.
    Row groups hold one (split_seq, col_name) run each, so the
    ``col_name`` filter decompresses only the needed columns' pages; a
    segment-scoped task pushes the ``split_seq`` filter so the read
    prunes to its own row groups."""
    import pyarrow.parquet as pq

    cols = sorted(c for c, idxs in need.items() if idxs)
    if not cols:
        return {}
    filters: list = [
        ("col_name", "in", cols),
        ("block_idx", "in", sorted(set().union(*(need[c] for c in cols)))),
    ]
    if seg is not None:
        filters.append(("split_seq", "=", seg))
    t = pq.read_table(
        path,
        columns=["split_seq", "col_name", "block_idx", "block"],
        filters=filters,
    ).combine_chunks()
    blobs: dict[tuple[str, str, int], bytes] = {}
    for sid, segment in _split_segments(t, file_sid):
        for name, bi, blob in zip(
            segment.column("col_name").to_pylist(),
            segment.column("block_idx").to_numpy(),
            segment.column("block").to_pylist(),
        ):
            if int(bi) in need[name]:
                blobs[(sid, name, int(bi))] = blob
    return blobs


class _Blocks:
    """Decode/mask step of the block pipeline for one task: the fetched
    payloads, where each column is decoded on first use by ONE
    ``decode_blocks_batch_nullable`` call per segment over exactly the
    keys ``need`` lists for it, and the row mask of each block."""

    def __init__(self, plan: _Plan, blobs: dict, need: dict):
        self.plan, self.blobs, self.need = plan, blobs, need
        self.batches: dict[tuple[str, str], tuple] = {}

    def blob(self, col: str, key) -> bytes:
        blob = self.blobs.get((key[0], col, key[1]))
        if blob is None:
            raise ValueError(
                f"column {col!r} is missing block {key[1]} of segment "
                f"{key[0]} — corrupt dataset"
            )
        return blob

    def _batch(self, col: str, seq: str) -> tuple:
        got = self.batches.get((col, seq))
        if got is None:
            from rlv import blocks as B

            keys = sorted(k for k in self.need[col] if k[0] == seq)
            vals, offs, valid = B.decode_blocks_batch_nullable(
                [self.blob(col, k) for k in keys], np.int64,
                expected=[self.plan.info[col][k][0] for k in keys],
            )
            got = self.batches[(col, seq)] = (
                vals, valid, offs, {k: i for i, k in enumerate(keys)}
            )
        return got

    def seg(self, col: str, seq: str):
        """``(values, validity)`` of ``col`` over every block of segment
        ``seq`` it is needed at, in block order."""
        vals, valid, _, _ = self._batch(col, seq)
        return vals, valid

    def dec(self, col: str, key):
        """``(values, validity)`` of ``col`` in one block."""
        vals, valid, offs, pos = self._batch(col, key[0])
        i = pos[key]
        sl = slice(int(offs[i]), int(offs[i + 1]))
        return vals[sl], valid[sl]

    def mask(self, key) -> np.ndarray:
        """Row mask of one surviving block (all rows when it is full)."""
        if self.plan.cls[key] == "full":
            return np.ones(self.plan.nv[key], bool)
        return _pred_mask(self.plan, key, lambda c: self.dec(c, key))

    def seg_mask(self, keys: list, offs: np.ndarray) -> np.ndarray:
        """Row mask over consecutive blocks ``keys`` of one segment."""
        m = np.ones(int(offs[-1]), bool)
        for i, k in enumerate(keys):
            if self.plan.cls[k] == "partial":
                m[int(offs[i]):int(offs[i + 1])] = self.mask(k)
        return m


def _segments(keys: list) -> list[tuple[str, list]]:
    """Sorted keys grouped by segment, in order."""
    out: list[tuple[str, list]] = []
    for k in keys:
        if not out or out[-1][0] != k[0]:
            out.append((k[0], []))
        out[-1][1].append(k)
    return out


def _block_offsets(plan: _Plan, keys: list) -> np.ndarray:
    """Row offsets of consecutive blocks ``keys`` (length len(keys)+1)."""
    offs = np.zeros(len(keys) + 1, np.int64)
    np.cumsum([plan.nv[k] for k in keys], out=offs[1:])
    return offs


class _Reducer:
    """One pushdown operator's part of the block pipeline.  ``cols`` are
    the columns it reads beside the predicates (and the width of the
    tiny-plan rule); :meth:`keys` picks the surviving blocks it folds;
    :meth:`need` names the payload (column -> keys) it decodes and the
    payload it reads raw (whole blocks, e.g. an RLE run-list sum);
    :meth:`side` the dictionaries (column -> block_idx) it reads;
    :meth:`fold` turns one task into its output columns (``{field:
    values}``), which :func:`_typed_batch` types as ``ddl`` says,
    restoring the plane fields ``aliases`` names."""

    cols: list[str]
    ddl: str
    aliases: dict = {}

    def keys(self, plan: _Plan) -> list:
        return sorted(plan.cls)

    def need(self, plan: _Plan, keys: list):
        return {}, {}

    def side(self, plan: _Plan, keys: list) -> dict:
        return {}


def _need(plan: _Plan, reducer, keys: list):
    """Need step: ``(decode, fetch)`` column -> keys maps — the
    reducer's decode pairs plus every predicate column the partial
    blocks among ``keys`` mask on, and those with the reducer's raw pairs
    added: everything the fetch step reads."""
    dec, raw = reducer.need(plan, keys)
    for key in keys:
        if plan.cls[key] == "partial":
            for c in _pred_need_cols(plan, key):
                dec.setdefault(c, set()).add(key)
    fetch = {c: set(ks) for c, ks in dec.items()}
    for c, ks in raw.items():
        fetch.setdefault(c, set()).update(ks)
    return dec, fetch


def _explain_task(plan: _Plan, reducer) -> dict:
    """EXPLAIN bill of one classified task: the pipeline up to its need
    step, no fetch.  ``payload_bytes`` sums the recorded ``enc_bytes`` of
    exactly the (column, block) pairs :func:`_task_frame` would fetch;
    ``blocks_meta_served`` counts full blocks it reads no payload for."""
    keys = reducer.keys(plan)
    fetch = _need(plan, reducer, keys)[1] if keys else {}
    pairs = {(c, k) for c, ks in fetch.items() for k in ks}
    read = {k for _, k in pairs}
    n_full = sum(1 for kind in plan.cls.values() if kind == "full")
    rows_total = sum(plan.nv.values())
    rows_surv = plan.rows_surviving
    return {
        "blocks_total": len(plan.keys),
        "blocks_pruned": len(plan.keys) - len(plan.cls),
        "blocks_full": n_full,
        "blocks_partial": len(plan.cls) - n_full,
        "blocks_meta_served": sum(
            1 for k, kind in plan.cls.items()
            if kind == "full" and k not in read
        ),
        "rows_total": rows_total,
        "rows_pruned": rows_total - rows_surv,
        "rows_surviving": rows_surv,
        "payload_bytes": sum(plan.ebytes[c][k] for c, k in pairs),
    }


class _ScanReducer(_Reducer):
    """Scan reducer: the projected columns of every kept row, in
    (segment, block_idx) order within a task.  Each projected column is
    fetched at every surviving block and decoded once per segment; int
    columns filter by the segment's row mask, string columns gather the
    kept rows' codes through the block dictionaries (a NULL code gathers
    a NULL value).  A member predicate's column gathers from the
    dictionaries classification already decoded; a single-literal
    equality column whose predicate is the only member predicate on it
    needs no payload at all — every kept row IS the literal."""

    def __init__(self, schema: dict, specs: list[dict],
                 out_names: list[str]):
        _, mem_preds, _ = _spec_parts(specs)
        mem_cols = [p["col"] for p in mem_preds]
        self.cols = list(out_names)
        self.ddl = _typed_ddl(schema, self.cols)
        self.aliases = _plane_aliases(schema, self.cols)
        self.str_cols = set(schema["str_cols"])
        self.eq = {
            p["col"]: p["eq_single"]
            for p in mem_preds
            if p.get("eq_single") is not None
            and mem_cols.count(p["col"]) == 1
        }

    def need(self, plan, keys):
        return {c: set(keys) for c in self.cols if c not in self.eq}, {}

    def side(self, plan, keys) -> dict:
        bis = {bi for _, bi in keys}
        return {c: bis for c in self.cols
                if c in self.str_cols and c not in self.eq}

    def fold(self, plan, keys, blk) -> dict:
        return self._gather(plan, keys, blk, blk.seg_mask if keys else None)

    def _gather(self, plan, keys, blk, seg_mask) -> dict:
        """The projected columns at the rows ``seg_mask(keys, offsets)``
        keeps in each segment's run of ``keys``: plane columns as int64
        Arrow arrays, string columns as binary ones."""
        outs: dict[str, list] = {c: [] for c in self.cols}
        for seq, skeys in _segments(keys):
            offs = _block_offsets(plan, skeys)
            m = seg_mask(skeys, offs)
            n = int(m.sum())
            if not n:
                continue
            for c in self.cols:
                if c in self.eq:
                    outs[c].append(pa.array([self.eq[c]] * n, pa.binary()))
                    continue
                vals, valid = blk.seg(c, seq)
                if c in self.str_cols:
                    outs[c].append(
                        _gather_strings(plan, c, skeys, offs, vals, valid, m)
                    )
                elif n == m.size:
                    outs[c].append(_plane_array(vals, valid))
                else:
                    outs[c].append(_plane_array(vals[m], valid[m]))
        return {
            c: (pa.concat_arrays(parts) if parts else pa.array(
                [], pa.binary() if c in self.str_cols else pa.int64()))
            for c, parts in outs.items()
        }


def _gather_strings(plan, col: str, keys: list, offs: np.ndarray,
                    codes: np.ndarray, valid: np.ndarray, m: np.ndarray):
    """Kept rows (``m``) of one segment's decoded string column as one
    Arrow binary array: per block, the kept codes index the block's
    dictionary; a NULL code gathers a NULL value."""
    parts = []
    for i, key in enumerate(keys):
        sl = slice(int(offs[i]), int(offs[i + 1]))
        keep = m[sl]
        if not keep.any():
            continue
        kc, kv = codes[sl][keep], valid[sl][keep]
        uniq = plan.side.get(key[0], col, key[1])
        if uniq is None:
            raise ValueError(
                f"column {col!r} is missing the dictionary for block "
                f"{key[1]} of segment {key[0]} — corrupt dataset"
            )
        idx = (pa.array(kc) if kv.all()
               else pa.array(kc, pa.int64(), mask=~kv))
        parts.append(uniq.take(idx))
    return pa.concat_arrays(parts)


class _AggReducer(_Reducer):
    """Aggregate reducer for a CONJUNCTION of predicates: one labeled
    ``(n_rows, n_vals, sum_val, min_val, max_val)`` row per value column.
    Full blocks aggregate from their stats row (``n_nulls``, ``sum_val``,
    zone map) with no payload read — or, on files that predate
    ``sum_val``, from the raw value block via :func:`rlv.blocks.agg_block`
    (an RLE block sums its run list without expanding); partial blocks
    decode the value columns and pick the masked rows.  One pass
    classifies and masks for ALL value columns: k aggregate sets cost one
    predicate evaluation, not k.  Decimal-declared value columns
    (:func:`_uniform_dec_parts`) restore min/max to their source float
    type in the worker; plain-int ones stay bigint.  ``sum_val`` is in
    SQL units (:func:`_sql_sums`), so partials fold by plain sums."""

    def __init__(self, schema: dict, value_cols: list[str]):
        self.cols = list(value_cols)
        self.scale, mm, self.aliases = _agg_fields(schema, self.cols)
        self.ddl = (
            "val_col string, n_rows bigint, n_vals bigint, "
            f"sum_val decimal(38,{self.scale}), min_val {mm}, max_val {mm}"
        )

    def need(self, plan, keys):
        dec = {vc: set() for vc in self.cols}
        raw = {vc: set() for vc in self.cols}
        for key in keys:
            for vc in self.cols:
                if plan.cls[key] == "partial":
                    dec[vc].add(key)
                elif plan.sums[vc].get(key) is None:
                    raw[vc].add(key)
        return dec, raw

    def fold(self, plan, keys, blk) -> dict:
        from rlv import blocks as B

        n_rows = 0
        stats: dict[str, list] = {vc: [0, 0, None, None] for vc in self.cols}

        def add(st, n, s, mn, mx):
            st[0] += n
            st[1] += s
            if mn is not None:
                st[2] = mn if st[2] is None else min(st[2], mn)
                st[3] = mx if st[3] is None else max(st[3], mx)

        for key in keys:
            nv = plan.nv[key]
            if plan.cls[key] == "full":
                n_rows += nv
                for vc in self.cols:
                    ms = plan.sums[vc].get(key)
                    if ms is not None:
                        # metadata-only: the block stats carry the exact
                        # valid count, sum, and zone map
                        vnv, vnn, vnr, vmn, vmx = plan.info[vc][key]
                        add(stats[vc], vnv - vnn, ms,
                            *((vmn, vmx) if vnr > 0 else (None, None)))
                        continue
                    bn, bnv, bs, bmn, bmx = B.agg_block(blk.blob(vc, key))
                    if bn != nv:
                        raise ValueError(
                            f"block {key[1]} declares {nv} rows but "
                            f"decodes {bn} — corrupt dataset"
                        )
                    add(stats[vc], bnv, bs, bmn, bmx)
                continue
            mask = blk.mask(key)
            n_rows += int(mask.sum())
            for vc in self.cols:
                vv, vvalid = blk.dec(vc, key)
                picked = vv[mask & vvalid]
                if picked.size:
                    add(stats[vc], picked.size, B.exact_sum_i64(picked),
                        int(picked.min()), int(picked.max()))
        return {
            "val_col": self.cols,
            "n_rows": [n_rows] * len(self.cols),
            **_sql_sums({f: [stats[vc][i] for vc in self.cols]
                         for i, f in enumerate(("n_vals", "sum_val",
                                                "min_val", "max_val"))},
                        self.scale),
        }


def agg_table_files_where(
    spark: SparkSession, enc_dir: str, value_col: str, preds,
):
    """Aggregation pushed into the encoded format: one row
    ``(n_rows, n_vals, sum_val, min_val, max_val)`` equal to SQL's

    ``SELECT count(*), count(v), sum(v), min(v), max(v) FROM t
    WHERE p1 AND p2 AND ...``

    for a CONJUNCTION of the predicates :func:`scan_table_files_where`
    takes.  An empty match returns ``(0, 0, NULL, NULL, NULL)``.
    ``sum_val`` is decimal(38,0) (decimal(38,s) for a decimal-declared
    column): per-block sums are exact Python ints
    (:func:`rlv.blocks.exact_sum_i64`), and 38 digits absorbs any
    real-world table (10^38 > rows * max|int64|), where a bigint
    accumulator could wrap.

    Each predicate classifies every block pruned / full-match / partial
    from metadata and sidecars alone; the combined class is pruned if ANY
    predicate prunes (payload never read), full if ALL full-match (the
    value block aggregates via :func:`rlv.blocks.agg_block` without
    decoding any predicate — RLE sums its run list without expanding), and
    partial otherwise — where only the predicates NOT full-matching that
    block decode.  SQL NULL semantics per predicate and for the value
    column throughout.

    ``value_col`` may be a LIST of int columns: the predicate evaluates
    ONCE and every listed column aggregates in the same pass (k aggregate
    sets for one classification + mask), returning one row per column
    with a leading ``val_col`` label."""
    multi = isinstance(value_col, (list, tuple))
    value_cols = list(value_col) if multi else [value_col]
    if not value_cols:
        raise ValueError("value_col list must name at least one column")
    if len(value_cols) != len(set(value_cols)):
        raise ValueError(f"duplicate value column in {value_cols}")
    for vc in value_cols:
        schema = _require_int_col(enc_dir, vc)
        _require_summable(schema, vc)
    specs = _norm_preds(schema, preds)
    reducer = _AggReducer(schema, value_cols)
    out_schema = _arrow_schema(reducer.ddl)[1]
    # the identity row keeps one output row per value column when no
    # task emits a partial
    parts = pa.Table.from_batches([
        _typed_batch(reducer.fold(None, [], None), out_schema,
                     reducer.aliases),
        *_task_batches(spark, enc_dir, _query_tasks(enc_dir), reducer,
                       specs).to_batches(),
    ], out_schema)
    out = parts.group_by("val_col", use_threads=False).aggregate([
        ("n_rows", "sum"), ("n_vals", "sum"), ("sum_val", "sum"),
        ("min_val", "min"), ("max_val", "max"),
    ]).rename_columns(out_schema.names).cast(out_schema)
    df = _local_relation(spark, reducer.ddl, out.to_batches())
    return df if multi else df.drop("val_col")


def _sql_sums(cols: dict, scale: int) -> dict:
    """An aggregate reducer's output ``cols`` with its exact plane sums
    (ints) turned into SQL's ``decimal(38,scale)`` ``sum_val``: NULL
    where ``n_vals`` is 0.  A decimal-declared column's plane holds its
    values times 10^scale, so the decimal(38,0) plane sums are viewed at
    the scale, never divided: no digit can round."""
    cols["sum_val"] = pa.array(
        [s if n else None for s, n in zip(cols["sum_val"], cols["n_vals"])],
        pa.decimal128(38, 0),
    ).view(pa.decimal128(38, scale))
    return cols


def _agg_fields(schema: dict, value_cols: list[str]) -> tuple:
    """``(sum scale, min/max type, restore aliases)`` of an aggregate's
    value fields: decimal-declared value columns sum at their scale and
    restore min/max to their source float type in the worker; plain-int
    ones sum at scale 0 and keep bigint plane min/max."""
    dec = _uniform_dec_parts(schema, value_cols)
    if dec is None:
        return 0, "bigint", {}
    alias = _col_alias(schema, value_cols[0])
    return (dec[0], _typed_field_type(schema, value_cols[0]),
            {"min_val": alias, "max_val": alias})


def _uniform_dec_parts(schema: dict, value_cols: list[str]):
    """(scale, src) when the aggregate's value columns are
    decimal-declared — all of them, at ONE scale (a shared output schema
    cannot mix decimal(38,s) sums) — else None for all-plain-int; a mixed
    list raises."""
    types = schema.get("int_col_types") or {}
    parts = {
        vc: _dec_alias_parts(types.get(vc, "int64")) or None
        for vc in value_cols
    }
    decs = {p for p in parts.values() if p is not None}
    if not decs:
        return None
    if len(decs) > 1 or any(p is None for p in parts.values()):
        raise ValueError(
            "aggregate value columns mix decimal scales or decimal and "
            f"plain-int columns ({ {vc: types.get(vc, 'int64') for vc in value_cols} }); "
            "aggregate them in separate calls"
        )
    return next(iter(decs))


class _CountReducer(_Reducer):
    """COUNT(*) reducer: FULL blocks count from metadata alone (their
    recorded ``n_values``); only PARTIAL blocks decode — and only their
    non-full PREDICATE columns, never a value column.  One bigint per
    task."""

    ddl = "n_rows bigint"

    def __init__(self, specs: list[dict]):
        self.cols = _spec_cols(specs)

    def fold(self, plan, keys, blk) -> dict:
        n = sum(
            plan.nv[key] if plan.cls[key] == "full"
            else int(blk.mask(key).sum())
            for key in keys
        )
        return {"n_rows": [n]}


def count_table_files_where(spark: SparkSession, enc_dir: str, preds):
    """``SELECT count(*) WHERE <conjunction>`` pushed into the encoded
    format: one row ``(n_rows)``.  The cheapest query in the pushdown
    family — NO value column is ever read: pruned blocks contribute
    nothing, FULL blocks count from their recorded ``n_values``
    (metadata only), and partial blocks decode exactly the predicate
    columns not full-matching there.  On a zone-map-clustered predicate
    the payload IO is O(boundary blocks); an all-full match (or a pure
    validity predicate over unmixed blocks) reads ZERO payload bytes.
    Takes the same predicate kinds as :func:`scan_table_files_where`.
    With NO predicates (``preds`` None/empty), ``SELECT count(*)`` is
    served from the MANIFEST alone — live splits' recorded row counts,
    zero Spark jobs, zero file IO (the statistics-served count a
    warehouse gives you).  With predicates, this process sums the
    per-task counts (:func:`_task_batches`): a tiny plan counts
    in-process with zero Spark jobs, any other runs one Spark stage."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if not preds:
        live = engine_files.live_splits(enc_dir)
        total = (
            0 if live is None
            else int(sum(int(n) for n in live["n_docs"]))
        )
        return _one_row_frame(spark, {"n_rows": total}, "n_rows bigint")
    specs = _norm_preds(schema, preds)
    reducer = _CountReducer(specs)
    parts = _task_batches(spark, enc_dir, _query_tasks(enc_dir), reducer,
                          specs)
    return _one_row_frame(spark, {"n_rows": sum(
        parts.column("n_rows").to_pylist())}, reducer.ddl)


class _MinMaxReducer(_Reducer):
    """MIN/MAX reducer: FULL blocks contribute their recorded zone map
    (min_val/max_val over valid values — METADATA, no value payload);
    PARTIAL blocks decode the value column and fold the masked values.
    Values rank in SQL order (:func:`_sql_order_keys`); a full float
    block that may hold a sign-bit NaN (:func:`_sql_order_zone`) decodes
    too, since its zone map does not bound it in that order.  One
    (min_val, max_val) row per task, restored to the column's type."""

    def __init__(self, schema: dict, value_col: str):
        self.cols = [value_col]
        self.alias = _col_alias(schema, value_col)
        typ = _typed_field_type(schema, value_col)
        self.ddl = f"min_val {typ}, max_val {typ}"
        self.aliases = {"min_val": self.alias, "max_val": self.alias}
        self.floor = _neg_nan_floor(self.alias)

    def _decodes(self, plan, key) -> bool:
        return plan.cls[key] == "partial" or (
            self.floor is not None
            and plan.info[self.cols[0]][key][3] < self.floor
        )

    def need(self, plan, keys):
        return {self.cols[0]: {k for k in keys
                               if self._decodes(plan, k)}}, {}

    def fold(self, plan, keys, blk) -> dict:
        vc = self.cols[0]
        cand = [np.empty(0, np.int64)]
        for key in keys:
            if self._decodes(plan, key):
                vv, vvalid = blk.dec(vc, key)
                cand.append(vv[blk.mask(key) & vvalid])
            elif plan.info[vc][key][2]:  # an all-NULL block has no zone map
                cand.append(np.array(plan.info[vc][key][3:], np.int64))
        v = np.concatenate(cand)
        if not v.size:
            return {"min_val": [None], "max_val": [None]}
        r = _sql_order_keys(v, self.alias)
        return {"min_val": [int(v[np.argmin(r)])],
                "max_val": [int(v[np.argmax(r)])]}


def minmax_table_files_where(spark: SparkSession, enc_dir: str,
                             value_col: str, preds):
    """``SELECT min(v), max(v) WHERE <conjunction>`` pushed into the
    encoded format: one row ``(min_val, max_val)`` with SQL NULL
    semantics (NULL values skipped; no matching valid row → NULL row)
    and SQL float order (NaN above every number, ``-0.0`` equal to
    ``0.0``).  FULL-matching blocks contribute their recorded ZONE MAP —
    no value payload read — so on a clustered predicate (or no predicate
    at all: pass the order column's full range) the answer folds almost
    entirely from metadata; only partial (boundary) blocks decode.

    Each task emits one ``(min_val, max_val)`` partial, and this process
    folds them (:func:`_task_batches`, :func:`_sql_extreme`): a tiny plan
    runs in-process with zero Spark jobs, any other as one Spark stage.

    A STRING value column routes through the DISTINCT pipe instead: full
    blocks fold their dictionary sidecars (the per-block sorted-distinct
    valid values — the string zone map), partial blocks decode and mask;
    min/max are the binary-collation fold over the distinct set."""
    schema = _load_table_schema(enc_dir)
    if schema is not None and value_col in schema.get("str_cols", ()):
        from pyspark.sql import functions as F

        dv = distinct_table_files(spark, enc_dir, value_col, preds=preds)
        return dv.agg(
            F.min(value_col).alias("min_val"),
            F.max(value_col).alias("max_val"),
        )
    schema = _require_int_col(enc_dir, value_col)
    specs = _norm_preds(schema, preds)
    reducer = _MinMaxReducer(schema, value_col)
    parts = _task_batches(spark, enc_dir, _query_tasks(enc_dir), reducer,
                          specs)
    return _local_relation(spark, reducer.ddl, pa.table({
        "min_val": _sql_extreme(parts.column("min_val"), min),
        "max_val": _sql_extreme(parts.column("max_val"), max),
    }, schema=parts.schema).to_batches())


def _sql_extreme(col, pick):
    """The value SQL's MIN (``pick=min``) or MAX (``pick=max``) takes from
    the partials ``col``, as a one-value Arrow column: NULLs skipped, NaN
    of either sign above +inf, -0.0 tied with 0.0 (the first partial wins
    a tie).  Arrow's own min/max skip NaN, so they cannot fold floats;
    the winner is taken from ``col`` itself, so a NaN payload and a
    float32 keep their bits."""
    vals = col.to_pylist()
    idx = [i for i, v in enumerate(vals) if v is not None]
    if not idx:
        return pa.nulls(1, col.type)
    return col.take([pick(idx, key=lambda i: (
        (1, 0) if vals[i] != vals[i] else (0, vals[i])))])


def _group_seg_agg(keys: np.ndarray, vals: np.ndarray,
                   vvalid: np.ndarray, acc: dict, name_of) -> None:
    """Accumulate per-key aggregates of one block's masked rows into ``acc``
    ({group: [n_rows, n_vals, sum, min, max]}): stable-argsort by key, then
    ``reduceat`` over the segment boundaries — counts, valid-counts, sums,
    and sentinel-masked min/max all vectorize; the only per-group Python is
    the accumulator merge (O(distinct keys in the block), the GROUP BY
    cardinality, never rows).  Sums ride int64 ``reduceat`` under the same
    zone bound :func:`rlv.blocks.exact_sum_i64` uses and fall back to the
    exact per-segment path when values could wrap.  ``name_of`` maps a key
    to its output group (dict-code -> string, or identity for int groups)."""
    from rlv import blocks as B

    if keys.size == 0:
        return
    order = np.argsort(keys, kind="stable")
    ks = keys[order]
    vs = vals[order]
    vv = vvalid[order]
    starts = np.r_[0, np.flatnonzero(np.diff(ks)) + 1]
    ends = np.r_[starts[1:], ks.size]
    n_rows_seg = ends - starts
    n_vals_seg = np.add.reduceat(vv.astype(np.int64), starts)
    vz = np.where(vv, vs, 0)
    m = max(abs(int(vs.min())), abs(int(vs.max()))) if vs.size else 0
    if m * vs.size < 2**63:
        sums = [int(x) for x in np.add.reduceat(vz, starts)]
    else:
        sums = [B.exact_sum_i64(vz[a:b]) for a, b in zip(starts, ends)]
    lo_sent = np.iinfo(np.int64).max
    hi_sent = np.iinfo(np.int64).min
    mins = np.minimum.reduceat(np.where(vv, vs, lo_sent), starts)
    maxs = np.maximum.reduceat(np.where(vv, vs, hi_sent), starts)
    for i, k in enumerate(ks[starts]):
        g = name_of(int(k))
        cur = acc.get(g)
        if cur is None:
            cur = acc[g] = [0, 0, 0, None, None]
        cur[0] += int(n_rows_seg[i])
        nv = int(n_vals_seg[i])
        if nv:
            cur[1] += nv
            cur[2] += sums[i]
            mn, mx = int(mins[i]), int(maxs[i])
            cur[3] = mn if cur[3] is None else min(cur[3], mn)
            cur[4] = mx if cur[4] is None else max(cur[4], mx)


class _GroupReducer(_Reducer):
    """GROUP BY reducer over one or more key columns (any mix of int and
    string).  Per block, each group column maps to a dense local id
    (dictionary code + 1 for strings, unique-rank + 1 for ints, 0 = NULL
    — so NULLs participate in key TUPLES, SQL semantics; one key column
    gives SQL's single pooled NULL group), then the columns combine one at
    a time in mixed radix with a ``np.unique`` re-densification after
    each step — composite values never exceed (block distinct) x (radix),
    so int64 cannot overflow at any ``rows_per_block``.  Aggregation runs
    :func:`_group_seg_agg` over the composite; one partial row per (task,
    key tuple), string keys as raw bytes.

    Single-group shortcut: a full block where EVERY group column's zone
    map is a point (no NULL keys) or the column is all-NULL belongs to
    one key tuple, so its value stats row (count, n_nulls, sum_val, zone
    map) IS its partial and no payload is read — on group-clustered data
    (:func:`cluster_encode_table_files`) GROUP BY is metadata-only away
    from cluster boundaries."""

    def __init__(self, schema: dict, value_col: str, group_cols: list[str]):
        self.value_col = value_col
        self.group_cols = list(group_cols)
        self.str_groups = set(group_cols) & set(schema["str_cols"])
        self.cols = list(dict.fromkeys([value_col, *group_cols]))
        self.scale, mm, mm_aliases = _agg_fields(schema, [value_col])
        self.aliases = {**_plane_aliases(schema, self.group_cols),
                        **mm_aliases}
        self.ddl = (
            f"{_typed_ddl(schema, self.group_cols)}, n_rows bigint, "
            f"n_vals bigint, sum_val decimal(38,{self.scale}), "
            f"min_val {mm}, max_val {mm}"
        )

    def _single(self, plan, keys) -> set:
        single = set()
        for key in keys:
            if plan.cls[key] != "full" \
                    or plan.sums[self.value_col].get(key) is None:
                continue  # pre-sum_val generations decode
            if all(
                (nn == 0 and mn == mx) or nn == nv
                for nv, nn, _, mn, mx in (
                    plan.info[g][key] for g in self.group_cols
                )
            ):
                single.add(key)
        return single

    def need(self, plan, keys):
        rest = set(keys) - self._single(plan, keys)
        return {c: set(rest) for c in self.cols}, {}

    def side(self, plan, keys) -> dict:
        bis = {bi for _, bi in keys}
        return {g: bis for g in self.str_groups}

    def _names(self, plan, g: str, key) -> list:
        """Group values of one string key column's block dictionary."""
        uniq = plan.side.get(key[0], g, key[1])
        if uniq is None:
            raise ValueError(
                f"column {g!r} is missing the dictionary for block "
                f"{key[1]} of segment {key[0]} — corrupt dataset"
            )
        return uniq.to_pylist()

    def fold(self, plan, keys, blk) -> dict:
        single = self._single(plan, keys)
        acc: dict[tuple, list] = {}
        for key in keys:
            if key in single:
                parts = []
                for g in self.group_cols:
                    gnv, gnn, _, _, gmx = plan.info[g][key]
                    if gnn == gnv:
                        parts.append(None)
                    elif g in self.str_groups:
                        # a point zone map means one distinct valid value:
                        # the block dictionary holds exactly it
                        parts.append(self._names(plan, g, key)[gmx])
                    else:
                        parts.append(gmx)
                vnv, vnn, _, vmn, vmx = plan.info[self.value_col][key]
                cur = acc.setdefault(tuple(parts), [0, 0, 0, None, None])
                cur[0] += vnv
                if vnv - vnn:
                    cur[1] += vnv - vnn
                    cur[2] += plan.sums[self.value_col][key]
                    cur[3] = vmn if cur[3] is None else min(cur[3], vmn)
                    cur[4] = vmx if cur[4] is None else max(cur[4], vmx)
                continue
            mask = blk.mask(key)
            if not mask.any():
                continue
            # per-column dense local ids (0 = NULL) + name slots
            comp: np.ndarray | None = None
            lookup: list[tuple] = []
            for g in self.group_cols:
                gv, gvalid = blk.dec(g, key)
                if g in self.str_groups:
                    names_g = [None, *(
                        self._names(plan, g, key) if gvalid.any() else []
                    )]
                    ids = np.where(gvalid, gv + 1, 0)
                else:
                    uniq = np.unique(gv[gvalid])
                    names_g = [None, *(int(u) for u in uniq)]
                    ids = np.where(
                        gvalid, np.searchsorted(uniq, gv) + 1, 0
                    )
                radix = len(names_g)
                if comp is None:
                    dense, inv = np.unique(ids, return_inverse=True)
                    lookup = [(names_g[int(d)],) for d in dense]
                else:
                    dense, inv = np.unique(
                        comp * radix + ids, return_inverse=True
                    )
                    lookup = [
                        lookup[int(d // radix)] + (names_g[int(d % radix)],)
                        for d in dense
                    ]
                comp = inv.astype(np.int64)
            vv, vvalid = blk.dec(self.value_col, key)
            _group_seg_agg(comp[mask], vv[mask], vvalid[mask], acc,
                           lookup.__getitem__)
        groups = sorted(
            acc, key=lambda t: tuple((v is not None, v) for v in t)
        )
        cols = {g: [t[i] for t in groups]
                for i, g in enumerate(self.group_cols)}
        for i, f in enumerate(("n_rows", "n_vals", "sum_val", "min_val",
                               "max_val")):
            cols[f] = [acc[t][i] for t in groups]
        return _sql_sums(cols, self.scale)


def agg_table_files_by(
    spark: SparkSession, enc_dir: str, value_col: str, group_col: str,
    preds=None,
):
    """GROUP BY pushed into the encoded format: one row per group equal to

    ``SELECT g, count(*), count(v), sum(v), min(v), max(v) FROM t
    [WHERE p1 AND p2 AND ...] GROUP BY g``

    computed FROM THE BLOCKS — the grouped counterpart of
    :func:`agg_table_files_where`.  ``group_col`` may be a STRING column
    (grouping runs over per-block dictionary CODES; each block's small
    sidecar decodes once to name its groups — the strings themselves never
    materialize per-row) or an INT column (raw values key the groups).
    The optional ``preds`` is a conjunction of the predicates
    :func:`scan_table_files_where` takes, with
    :func:`agg_table_files_where`'s block classification and mask
    semantics: pruned blocks are never read, full-match blocks skip the
    predicate decode, only boundary blocks decode it.

    Scale shape: one task per (blocks file, segment) computes per-group
    partials with ``argsort`` + ``reduceat`` (per-group Python is
    O(groups), never rows) — map-side partial aggregation over the
    compressed format.  When every key column is a string or a
    non-float ``index_cols`` int and the bound on the partial rows from
    the sidecars' per-block NDV (:func:`_group_rows_bound`) is small,
    this process folds the partials with pyarrow (:func:`_task_batches`:
    no Spark job for a tiny plan, one Spark stage otherwise) into a
    local relation.  Any other GROUP BY (float keys, whose SQL merge of
    ``-0.0``/``0.0`` and NaN payloads pyarrow's grouping lacks; plain
    int keys; a bound over the cap) runs the stage through
    :func:`_run_tasks` and Spark's own ``groupBy`` combines at most
    groups x tasks partial rows.  SQL semantics throughout: NULL group
    keys pool into one NULL group, NULL predicate rows never match,
    ``n_vals``/``sum``/``min``/``max`` skip NULL values (``sum_val`` is
    NULL for a group with no valid values, exact decimal(38,0)
    otherwise).

    ``group_col`` may also be a LIST of columns (``GROUP BY a, b, ...``,
    any mix of int and string): per block each key column maps to a dense
    local id (dictionary code for strings, unique rank for ints, with a
    NULL slot — NULLs participate in key tuples, SQL multi-key
    semantics), the ids combine in mixed radix with re-densification so
    the composite can never overflow, and the same argsort+reduceat
    aggregation runs once over the composite; the final fold combines
    ≤ (distinct key tuples) × tasks partial rows."""
    schema = _require_int_col(enc_dir, value_col)
    _require_summable(schema, value_col)
    group_cols = (list(group_col) if isinstance(group_col, (list, tuple))
                  else [group_col])
    if len(group_cols) != len(set(group_cols)):
        raise ValueError(f"duplicate group column in {group_cols}")
    if not group_cols:
        raise ValueError("group_col list must name at least one column")
    for g in group_cols:
        if g not in schema["str_cols"] and g not in schema["int_cols"]:
            raise ValueError(
                f"unknown group column {g!r}; dataset has "
                f"int_cols={schema['int_cols']} "
                f"str_cols={schema['str_cols']}"
            )
    specs = _norm_preds(schema, preds) if preds else []
    tasks = _query_tasks(enc_dir)
    reducer = _GroupReducer(schema, value_col, group_cols)
    bound = _group_rows_bound(enc_dir, schema, group_cols, len(tasks))
    if bound is not None and \
            bound * (len(group_cols) + 5) <= _DRIVER_LOCAL_MAX_CELLS:
        parts = _task_batches(spark, enc_dir, tasks, reducer, specs)
        out = parts.group_by(group_cols, use_threads=False).aggregate([
            ("n_rows", "sum"), ("n_vals", "sum"), ("sum_val", "sum"),
            ("min_val", "min"), ("max_val", "max"),
        ]).rename_columns(parts.schema.names).cast(parts.schema)
        return _local_relation(spark, reducer.ddl, out.to_batches())
    from pyspark.sql import functions as F

    # float keys arrive restored, so Spark's own grouping merges -0.0
    # with 0.0 and pools every NaN, as SQL does; a partial's sum_val is
    # NULL when it has no valid value, so the sum is SQL's
    return _run_tasks(spark, enc_dir, tasks, reducer, specs).groupBy(
        *group_cols
    ).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_vals").alias("n_vals"),
        F.sum("sum_val").alias("sum_val"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
    )


def _group_rows_bound(enc_dir: str, schema: dict, group_cols: list[str],
                      n_tasks: int) -> int | None:
    """Upper bound on the partial rows a GROUP BY over ``group_cols``
    emits, known before it runs, or None when a key column has no
    per-block NDV (float keys, whose pyarrow grouping would split
    ``-0.0``/``0.0`` and NaN payloads, and plain int keys).  String and
    ``index_cols`` keys record each block's ``ndv`` in the dictionary
    sidecar, so a block holds at most the product over key columns of
    (``ndv`` + 1, the NULL slot) key tuples; a block with no sidecar row
    for a column (all NULL there) counts 1 for it.  The bound sums that
    over the live blocks, one sidecar metadata read per live file, plus
    one row per task for the all-NULL tuple of blocks that no key
    column has a sidecar row for."""
    import pyarrow.parquet as pq

    strs = set(schema["str_cols"])
    idx = set(schema.get("index_cols", ()))
    if not all(g in strs or (
        g in idx and _plane_kind(_col_alias(schema, g)) not in ("f32", "f64")
    ) for g in group_cols):
        return None
    tuples: dict = {}
    for path in _live_block_files(enc_dir):
        spath = _sidecar_path(path)
        if not os.path.exists(spath):
            continue
        side = pq.ParquetFile(spath)
        t = side.read(columns=["col_name", "block_idx", "ndv", *(
            ["split_seq"] if "split_seq" in side.schema_arrow.names else []
        )])
        seqs = (t.column("split_seq").to_pylist()
                if "split_seq" in t.column_names else [None] * t.num_rows)
        for name, seq, bi, n in zip(t.column("col_name").to_pylist(), seqs,
                                    t.column("block_idx").to_pylist(),
                                    t.column("ndv").to_pylist()):
            if name in group_cols:
                key = (path, seq, bi)
                tuples[key] = tuples.get(key, 1) * (n + 1)
    return sum(tuples.values()) + n_tasks


class _DistinctReducer(_Reducer):
    """DISTINCT reducer: FULL blocks contribute their whole dictionary
    (string; for an INDEXED int column its membership keys) or their
    codec-level distinct (other int columns,
    :func:`rlv.blocks.distinct_block_values`), plus the NULL row when
    their metadata records NULLs; PARTIAL blocks decode only the non-full
    predicates, mask, and contribute the matched rows' values.  With no
    predicates every block is full, so string and indexed-int DISTINCT
    read no payload at all."""

    def __init__(self, schema: dict, col: str):
        self.cols = [col]
        self.is_str = col in schema["str_cols"]
        # a membership-indexed int column's sidecar IS its distinct set
        self.is_idx = not self.is_str and col in schema.get("index_cols", ())
        self.ddl = _typed_ddl(schema, self.cols)
        self.aliases = _plane_aliases(schema, self.cols)

    def need(self, plan, keys):
        col = self.cols[0]
        part = {k for k in keys if plan.cls[k] == "partial"}
        raw = set() if self.is_str or self.is_idx else set(keys) - part
        return {col: part}, {col: raw}

    def side(self, plan, keys) -> dict:
        if self.is_str:
            return {self.cols[0]: {bi for _, bi in keys}}
        if self.is_idx:
            return {self.cols[0]: {k[1] for k in keys
                                   if plan.cls[k] == "full"}}
        return {}

    def fold(self, plan, keys, blk) -> dict:
        from rlv import blocks as B

        col = self.cols[0]
        svals: set[bytes] = set()
        iparts: list[np.ndarray] = []
        has_null = False
        for key in keys:
            nv, nn = plan.info[col][key][:2]
            if plan.cls[key] == "full":
                has_null = has_null or nn > 0
                if not (self.is_str or self.is_idx):
                    iparts.append(B.distinct_block_values(blk.blob(col, key)))
                    continue
                uniq = plan.side.get(key[0], col, key[1])
                if uniq is None:
                    if nv - nn > 0:
                        raise ValueError(
                            f"column {col!r} is missing the dictionary for "
                            f"block {key[1]} of segment {key[0]} — corrupt "
                            "dataset"
                        )
                    continue  # all-NULL block: NULL row only
                svals.update(uniq.to_pylist())
                continue
            mask = blk.mask(key)
            if not mask.any():
                continue
            cv, cvalid = blk.dec(col, key)
            has_null = has_null or bool((mask & ~cvalid).any())
            sel = mask & cvalid
            if not sel.any():
                continue
            if self.is_str:
                uniq = plan.side.get(key[0], col, key[1])
                svals.update(
                    uniq.take(pa.array(np.unique(cv[sel]))).to_pylist()
                )
            else:
                iparts.append(np.unique(cv[sel]))
        if self.is_str:
            # SQL DISTINCT keeps one NULL row
            return {col: [*sorted(svals), *([None] if has_null else [])]}
        if svals:  # index keys: sign-flipped big-endian plane values
            iparts.append(
                np.frombuffer(b"".join(sorted(svals)), ">u8")
                .astype(np.uint64).view(np.int64) ^ np.int64(-(2 ** 63))
            )
        vals = (np.unique(np.concatenate(iparts)) if iparts
                else np.empty(0, np.int64))
        valid = np.ones(vals.size + has_null, bool)
        if has_null:
            vals = np.concatenate([vals, np.zeros(1, np.int64)])
            valid[-1] = False  # SQL DISTINCT keeps one NULL row
        return {col: _plane_array(vals, valid)}


def distinct_table_files(spark: SparkSession, enc_dir: str, col: str,
                         preds=None):
    """``SELECT DISTINCT col`` pushed into the encoded format.

    String columns never touch a payload byte: a string column's per-block
    dictionary sidecar IS its sorted-distinct valid values, so the exact
    distinct set is the union of
    the (small) sidecars, and the NULL row's presence comes from the block
    metadata's ``n_nulls`` — the strongest format-beats-raw query: IO is
    O(distinct values), independent of row count.

    Indexed int columns (``index_cols``) read their membership sidecars
    the same way.  Other int columns push DISTINCT into the codecs instead
    (:func:`rlv.blocks.distinct_block_values`): an RLE block uniques its run
    values without expanding a single row and a DICT block reads only its
    dictionary plane, so on low-NDV / run-heavy columns the work is
    O(runs + dictionary entries), not O(rows) — the payload is read but
    never row-expanded.

    Scale shape (both types): one task per (blocks file, segment) — or
    one in-process run for a tiny plan (:func:`_run_tasks`) — emits its local
    distinct set; the only shuffle is Spark's ``distinct()`` over per-file
    distinct values (bounded by NDV x files, never rows).

    ``preds`` restricts DISTINCT to rows matching a CONJUNCTION of the
    same five predicate kinds :func:`scan_table_files_where` takes (SQL
    ``SELECT DISTINCT col WHERE ...``): predicate-pruned blocks contribute
    nothing, FULL blocks keep the metadata-only shape (whole dictionary /
    codec-level distinct), and only PARTIAL blocks decode their non-full
    predicates and mask."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    if col not in schema["str_cols"] and col not in schema["int_cols"]:
        raise ValueError(
            f"{col!r} is not a column of this dataset "
            f"(int_cols={schema['int_cols']} str_cols={schema['str_cols']})"
        )
    specs = _norm_preds(schema, preds) if preds else []
    # the values arrive restored, so Spark's DISTINCT merges -0.0 with
    # 0.0 and pools every NaN, as SQL does
    return _run_tasks(
        spark, enc_dir, _query_tasks(enc_dir),
        _DistinctReducer(schema, col), specs,
    ).distinct()


EXPLAIN_SCHEMA = (
    "files bigint, blocks_total bigint, blocks_pruned bigint, "
    "blocks_full bigint, blocks_partial bigint, rows_total bigint, "
    "rows_pruned bigint, rows_surviving bigint, payload_bytes bigint"
)

AGG_EXPLAIN_SCHEMA = (
    "files bigint, blocks_total bigint, blocks_pruned bigint, "
    "blocks_full bigint, blocks_partial bigint, blocks_meta_served bigint, "
    "rows_total bigint, payload_bytes bigint"
)


def _explain_bill(enc_dir: str, tasks: pa.Table, specs: list[dict],
                  reducer) -> dict:
    """Sum :func:`_explain_task` over the dataset's query ``tasks`` ON
    THE DRIVER: the pass reads only metadata columns and sidecars (a few
    KB per file), so it runs in-process, not as a Spark job.  ``files``
    counts LIVE FILES (planner-known), not tasks: a compacted bin fans
    out to several segment tasks but is still one file."""
    symbols = engine_files._load_symbols(enc_dir)
    bill = {"files": len(set(tasks.column("file").to_pylist()))}
    for t in tasks.to_pylist():
        plan = _classify_file(t["file"], t["segment"], specs, reducer.cols,
                              symbols)
        for k, v in _explain_task(plan, reducer).items():
            bill[k] = bill.get(k, 0) + int(v)
    return bill


def _one_row_frame(spark: SparkSession, values: dict, out_schema: str):
    """One-row DataFrame of ``values`` (0 where a field is missing),
    built from Arrow: a local relation, so collecting it launches no
    Spark job (a Python-list frame runs a Python-worker job)."""
    schema = _arrow_schema(out_schema)[1]
    return _local_relation(spark, out_schema, [_typed_batch(
        {f.name: [values.get(f.name, 0)] for f in schema}, schema, {},
    )])


def explain_agg_table_files(
    spark: SparkSession, enc_dir: str, value_col, preds,
):
    """EXPLAIN for the pushed-down aggregate: ONE row reporting, from
    metadata and sidecars alone, what :func:`agg_table_files_where` with
    the same arguments would read — ``blocks_meta_served`` counts the
    full-matching blocks whose count/sum/min/max fold from the stats row
    (zero payload), and ``payload_bytes`` is the exact decode bill of the
    rest (value blocks at predicate boundaries, plus full blocks of
    pre-``sum_val`` files).  A full-range aggregate on a ``sum_val``
    dataset reports ``payload_bytes = 0`` — the number that makes
    "SUM over 100 TB reads only stats rows" checkable.  The bill is the
    aggregate's own block pipeline run on the driver up to its need step
    (:func:`_explain_bill`), so no Spark job is launched."""
    value_cols = (
        list(value_col) if isinstance(value_col, (list, tuple))
        else [value_col]
    )
    for vc in value_cols:
        schema = _require_int_col(enc_dir, vc)
        _require_summable(schema, vc)
    specs = _norm_preds(schema, preds)
    bill = _explain_bill(enc_dir, _query_tasks(enc_dir), specs,
                         _AggReducer(schema, value_cols))
    return _one_row_frame(spark, bill, AGG_EXPLAIN_SCHEMA)


def _scan_bill(enc_dir: str, tasks: pa.Table, preds,
               columns: list[str] | None) -> dict:
    """The scan EXPLAIN bill over ``tasks`` as a dict (see
    :func:`explain_scan_table_files`)."""
    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    specs = _norm_preds(schema, preds)
    out_names = _where_out_names(schema, specs, columns)
    return _explain_bill(enc_dir, tasks, specs,
                         _ScanReducer(schema, specs, out_names))


def explain_scan_table_files(
    spark: SparkSession, enc_dir: str, preds,
    columns: list[str] | None = None,
):
    """EXPLAIN for the pruned scan: ONE row reporting, from metadata and
    dictionary sidecars alone (no payload byte is read anywhere in this
    plan), exactly what :func:`scan_table_files_where` with the same
    arguments would do — per-class block and row counts (pruned blocks
    are never fetched; full blocks skip predicate masking; partial blocks
    decode and mask) and the EXACT payload bytes the scan fetches: the
    recorded ``enc_bytes`` of every projected column at each surviving
    block plus each predicate column at the partial blocks that mask on
    it — exact by wire invariant, because the bill is the scan's own
    block pipeline (:func:`_task_frame`) run up to its need step, no
    fetch.  The operator-facing answer to "how much will this query
    read?" before committing a 100 TB scan.  It runs on the driver over
    the scan's own task list (:func:`_explain_bill`): zero Spark jobs.

    Honest granularity caveat: this is the decode bill, byte-exact; the
    parquet TRANSPORT serving it reads whole column-chunk pages of row
    groups containing >= 1 surviving block (one row group per segment
    after compaction), so wire-level bytes can exceed it on a segment
    that only partially survives.  On a zone-map-clustered predicate the
    two converge (segments survive or prune wholesale)."""
    return _one_row_frame(
        spark, _scan_bill(enc_dir, _query_tasks(enc_dir), preds, columns),
        EXPLAIN_SCHEMA
    )


def ndv_table_files(spark: SparkSession, enc_dir: str, col: str,
                    preds=None):
    """``SELECT count(DISTINCT col) [WHERE ...]`` pushed into the encoded
    format: one row ``(ndv, null_seen)`` — ``ndv`` counts distinct
    NON-NULL values among matching rows (SQL COUNT DISTINCT semantics)
    and ``null_seen`` is true iff a MATCHING row is NULL.

    A composition over :func:`distinct_table_files`, so it inherits the
    whole pushdown shape: string columns resolve from dictionary sidecars
    without a payload byte, int columns from codec-level distinct (run
    values / dictionary planes, never row expansion), predicates prune /
    full-match / mask blocks exactly as in the scan; the final count is a
    driver-side fold over the ≤ NDV × files shuffled distinct values."""
    df = distinct_table_files(spark, enc_dir, col, preds=preds)
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.col(col)).cast("bigint").alias("ndv"),
        (F.count(F.lit(1)) > F.count(F.col(col))).alias("null_seen"),
    )


STATS_PARTIAL_SCHEMA = (
    "col_name string, n_rows bigint, n_nulls bigint, "
    "min_int bigint, max_int bigint, sval string"
)


class _StatsReducer(_Reducer):
    """ANALYZE reducer: per-column partials from METADATA alone.  Emits
    two row kinds on the shared partial schema — 'meta' rows (``sval``
    NULL) with the task's per-column row/NULL counts and the int zone-map
    min/max over blocks that hold at least one valid value (``n_runs >
    0``; an all-NULL block's zone map is meaningless by construction),
    and 'dval' rows (counts NULL) carrying the task-local distinct valid
    values of each string column from its dictionary sidecars — and of
    each INDEXED int column from its membership keys, which gives those
    columns an exact metadata-only NDV too.  No payload column is ever
    read."""

    ddl = STATS_PARTIAL_SCHEMA

    def __init__(self, schema: dict):
        self.int_cols = set(schema["int_cols"])
        self.str_cols = list(schema["str_cols"])
        self.dict_cols = [*self.str_cols, *(
            c for c in schema.get("index_cols", ()) if c in self.int_cols
        )]
        self.cols = [*schema["int_cols"], *self.str_cols]

    def side(self, plan, keys) -> dict:
        bis = {bi for _, bi in keys}
        return {c: bis for c in self.dict_cols}

    def fold(self, plan, keys, blk) -> dict:
        out: dict[str, list] = {
            k: [] for k in ("col_name", "n_rows", "n_nulls", "min_int",
                            "max_int", "sval")
        }

        def row(c, n_rows, n_nulls, mn, mx, sval):
            for k, v in zip(out, (c, n_rows, n_nulls, mn, mx, sval)):
                out[k].append(v)

        for c in sorted(self.cols):
            blocks = list(plan.info[c].values())
            if not blocks:
                continue
            valid = [b for b in blocks if b[2] > 0]
            zm = c in self.int_cols and bool(valid)
            row(c, sum(b[0] for b in blocks), sum(b[1] for b in blocks),
                min(b[3] for b in valid) if zm else None,
                max(b[4] for b in valid) if zm else None, None)
        for c in self.dict_cols:
            vals: set[bytes] = set()
            for key in keys:
                uniq = plan.side.get(key[0], c, key[1])
                if uniq is not None:
                    vals.update(uniq.to_pylist())
            for v in sorted(vals):
                # index keys are 8-byte binary (not UTF-8): their hex
                # feeds the distinct COUNT only — min_str/max_str stay
                # NULL for int columns downstream
                row(c, None, None, None, None,
                    v if c in self.str_cols else v.hex())
        return out


def stats_table_files(spark: SparkSession, enc_dir: str):
    """Metadata-only ANALYZE: one row per column with
    ``(col_name, n_rows, n_nulls, min_int, max_int, ndv, min_str,
    max_str)`` — exact, and served WITHOUT reading a single payload byte.
    Row/NULL counts sum the blocks' recorded ``n_values``/``n_nulls``; int
    min/max fold the zone maps over blocks holding >= 1 valid value; string
    NDV/min/max fold the dictionary sidecars (each block's sorted-distinct
    valid values).  Ints carry NULL ``ndv``/``min_str``/``max_str`` (their
    blocks store values, not dictionaries — exact int NDV would need a
    decode, like parquet statistics' optional distinct_count); strings carry
    NULL ``min_int``/``max_int`` (dense codes are per-block ranks).  An
    all-NULL string column reports ``ndv = 0`` with NULL min/max, SQL
    aggregate semantics.

    Scale shape: one task per (blocks file, segment) — or one in-process
    run for a tiny table (:func:`_run_tasks`) — emits per-column count
    partials plus its file-local string distincts; the only shuffle carries
    O(columns + NDV x files) partial rows, never data rows — the ANALYZE a
    warehouse runs as a full scan, here served by the format's own
    metadata."""
    from pyspark.sql import functions as F

    schema = _load_table_schema(enc_dir)
    if schema is None:
        raise FileNotFoundError(f"no table schema recorded at {enc_dir}")
    str_cols = list(schema["str_cols"])
    part = _run_tasks(spark, enc_dir, _query_tasks(enc_dir),
                      _StatsReducer(schema), [])
    counts = (
        part.where(F.col("n_rows").isNotNull())
        .groupBy("col_name")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_nulls").alias("n_nulls"),
            F.min("min_int").alias("min_int"),
            F.max("max_int").alias("max_int"),
        )
    )
    dv = (
        part.where(F.col("sval").isNotNull())
        .groupBy("col_name")
        .agg(
            F.count_distinct("sval").alias("ndv"),
            F.min("sval").alias("min_str"),
            F.max("sval").alias("max_str"),
        )
    )
    res = counts.join(dv, "col_name", "left")
    # a string column that is entirely NULL yields no dval rows: its exact
    # NDV is 0, not unknown; INDEXED int columns get their exact NDV from
    # the membership keys (other int columns legitimately keep NULL ndv),
    # but their hex-key min/max are meaningless — NULLed below
    idx_cols = [
        c for c in schema.get("index_cols", ())
        if c in set(schema["int_cols"])
    ]
    ndv_cols = [*str_cols, *idx_cols]
    ndv = (
        F.when(
            F.col("col_name").isin(ndv_cols),
            F.coalesce(F.col("ndv"), F.lit(0)),
        ).otherwise(F.col("ndv"))
        if ndv_cols
        else F.col("ndv")
    )
    str_only = (
        F.when(F.col("col_name").isin(str_cols), F.col("min_str"))
        if str_cols else F.lit(None).cast("string")
    )
    str_only_max = (
        F.when(F.col("col_name").isin(str_cols), F.col("max_str"))
        if str_cols else F.lit(None).cast("string")
    )
    # logical type per column (the recorded alias — 'string', plain int
    # widths, timestamp/date epoch aliases, float total-order keys,
    # decN:double scaled ints) so min_int/max_int's UNITS are explicit:
    # epoch integers / float keys / scaled ints for typed columns
    types = schema.get("int_col_types") or {}
    lt = F.lit(None).cast("string")
    for c in [*schema["int_cols"], *str_cols]:
        alias = "string" if c in str_cols else types.get(c, "int64")
        lt = F.when(F.col("col_name") == c, F.lit(alias)).otherwise(lt)
    return res.select(
        "col_name",
        lt.alias("logical_type"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("min_int").cast("bigint").alias("min_int"),
        F.col("max_int").cast("bigint").alias("max_int"),
        ndv.cast("bigint").alias("ndv"),
        str_only.alias("min_str"),
        str_only_max.alias("max_str"),
    )


def _topk_survivors(
    nvalid: np.ndarray, n_runs: np.ndarray,
    mn: np.ndarray, mx: np.ndarray, k: int, ascending: bool,
    is_full: np.ndarray | None = None,
) -> np.ndarray:
    """Pure zone-map plan for a local top-k: boolean mask of block entries
    that can contribute to the k smallest (``ascending``) or largest valid
    values.  Sort live blocks by max_val (resp. min_val desc) and walk until
    the cumulative VALID count reaches k — that block's bound caps the k-th
    extreme value, so any block whose min_val exceeds it (resp. max_val
    falls below) holds only strictly-beaten values and prunes.  All-NULL
    blocks (``n_runs == 0``) never survive.

    Under a predicate conjunction (``is_full`` given) only FULL-matching
    blocks' valid counts are exact lower bounds on their contribution —
    partial blocks may match fewer rows — so the cumulative walk runs over
    full blocks alone, and the resulting bound prunes full AND partial
    blocks alike.  Too few full-block values to reach k → no valid bound →
    every live block survives (correctness over pruning)."""
    live = n_runs > 0
    full = live if is_full is None else (live & is_full)
    if not live.any() or int(nvalid[full].sum()) <= k:
        return live
    nv, lo_f, hi_f = nvalid[full], mn[full], mx[full]
    if ascending:
        o = np.argsort(hi_f, kind="stable")
        cum = np.cumsum(nv[o])
        bound = int(hi_f[o][int(np.searchsorted(cum, k))])
        keep = live & (mn <= bound)
    else:
        # descending sort via reversed ascending argsort: negating int64
        # would wrap at int64 min and mis-sort that block first
        o = np.argsort(lo_f, kind="stable")[::-1]
        cum = np.cumsum(nv[o])
        bound = int(lo_f[o][int(np.searchsorted(cum, k))])
        keep = live & (mx >= bound)
    return keep


def _str_bound_matcher(bound: bytes, ascending: bool):
    """One-sided dictionary matcher for the string top-k threshold:
    entries ``<= bound`` (ascending) or ``>= bound`` (descending),
    bytewise — UTF-8 byte order == code-point order."""
    def match(uniq) -> np.ndarray:
        import pyarrow.compute as pc

        cmp = pc.less_equal if ascending else pc.greater_equal
        m = cmp(uniq, pa.scalar(bound, uniq.type))
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    return match


class _TopkStrReducer(_Reducer):
    """Threshold reducer for STRING top-k: the k extreme DISTINCT values
    of ``col`` drawn from the dictionary sidecars of blocks the predicate
    conjunction FULL-matches — no payload byte, no code-stream decode.
    Each sidecar entry appears in at least one valid row of its block,
    and every row of a full block matches the conjunction, so the k-th
    smallest (resp. largest) distinct value across tasks bounds the k-th
    extreme ROW value: at least k matching rows are at-or-inside it.
    Partial blocks contribute nothing here (their matching row count may
    be zero) — when full blocks yield fewer than k distinct values the
    driver scans unbounded (correctness over pruning), mirroring
    :func:`_topk_survivors`."""

    ddl = "val string"

    def __init__(self, col: str, k: int, ascending: bool):
        self.cols = [col]
        self.k, self.ascending = k, ascending

    def keys(self, plan) -> list:
        return sorted(k for k, kind in plan.cls.items() if kind == "full")

    def side(self, plan, keys) -> dict:
        return {self.cols[0]: {bi for _, bi in keys}}

    def _extreme(self, vals) -> list:
        return (sorted(vals)[:self.k] if self.ascending
                else sorted(vals)[-self.k:])

    def fold(self, plan, keys, blk) -> dict:
        k = self.k
        vals: set[bytes] = set()
        for key in keys:
            uniq = plan.side.get(key[0], self.cols[0], key[1])
            if uniq is None:
                continue
            # each dictionary is SORTED-distinct, so only its k extreme
            # entries can reach the task's top-k; the periodic re-prune
            # keeps the set O(k), not O(NDV)
            vals.update(
                (uniq.slice(0, k) if self.ascending
                 else uniq.slice(max(0, len(uniq) - k))).to_pylist()
            )
            if len(vals) > 4 * k:
                vals = set(self._extreme(vals))
        return {"val": self._extreme(vals)}


def _topk_table_files_str(
    spark: SparkSession, enc_dir: str, schema: dict, col: str, k: int,
    ascending: bool, columns: list[str] | None, preds,
):
    """String ORDER BY pushdown for :func:`topk_table_files` (dictionary
    columns): the threshold pass reads SIDECARS ONLY — each block's
    dictionary is its sorted-distinct valid values, so per-file candidate
    values come free of any payload decode — and the final pass is the
    existing membership-pruned scan with a one-sided string bound stacked
    onto the conjunction."""
    from pyspark.sql import functions as F

    specs = _norm_preds(schema, preds) if preds else []
    out_names = _scan_out_names(schema, col, columns)
    tasks = _query_tasks(enc_dir)
    cand = _run_tasks(spark, enc_dir, tasks,
                      _TopkStrReducer(col, int(k), ascending), specs)
    cands = sorted(
        {r["val"] for r in cand.collect() if r["val"] is not None}
    )
    scan_names = (
        out_names if col in out_names else [*out_names, col]
    )
    bound_specs = list(specs)
    if len(cands) >= k:
        # the k-th extreme DISTINCT value bounds the k-th extreme row:
        # each candidate appears in >= 1 fully-matching row
        t = cands[k - 1] if ascending else cands[-k]
        bound_specs.append({
            "kind": "member", "col": col,
            "match": _str_bound_matcher(t.encode("utf-8"), ascending),
            "eq_single": None,
        })
    elif not specs:
        # fewer distinct values than k and no conjunction: every
        # non-NULL row competes (ORDER BY excludes NULLs via the
        # membership spec below — match-all keeps valid rows only)
        bound_specs.append({
            "kind": "member", "col": col,
            "match": _str_prefix_matcher(b""), "eq_single": None,
        })
    else:
        # under a conjunction the scan must still drop NULLs of col
        bound_specs.extend(_norm_preds(schema, [("notnull", col)]))
    scan = _run_tasks(spark, enc_dir, tasks,
                      _ScanReducer(schema, bound_specs, scan_names),
                      bound_specs)
    sort_cols = [F.col(col).asc() if ascending else F.col(col).desc()]
    order_col = schema["order_col"]
    if order_col in out_names and order_col != col:
        sort_cols.append(F.col(order_col).asc())
    return scan.orderBy(*sort_cols).limit(k).select(*out_names)


def _topk_pick(r: np.ndarray, k: int, ascending: bool) -> np.ndarray:
    """Sorted indices of the ``k`` best ranks ``r`` (smallest when
    ``ascending``), ties at the k-th rank going to the lowest indices."""
    if r.size <= k:
        return np.arange(r.size)
    if not ascending:
        r = ~r  # order-reversing and overflow-free (~x == -1 - x)
    t = np.partition(r, k - 1)[k - 1]
    less = np.flatnonzero(r < t)
    tie = np.flatnonzero(r == t)[:k - less.size]
    return np.sort(np.concatenate([less, tie]))


class _TopkReducer(_ScanReducer):
    """One-pass top-k reducer: each segment's k best rows by ``col`` in
    SQL order (:func:`_sql_order_keys`) among valid rows matching the
    predicate conjunction, projected to ``out_names``.  Selection decodes
    ``col`` only at the blocks the zone-map plan keeps
    (:func:`_topk_survivors` over SQL-order zone maps, the bound from
    FULL-matching blocks' exact counts) and masks partial blocks.  Ties
    at the k-th value go to the earliest rows, and a segment's rows are
    in order-column order (each split is sorted on it at encode), so the
    selected set is ``ORDER BY col, order_col LIMIT k``'s within the
    segment.  The gather then fetches and decodes the other projected
    columns only at the blocks holding selected rows — at most k blocks
    — through the scan's own projection."""

    def __init__(self, schema: dict, col: str, k: int, ascending: bool,
                 out_names: list[str]):
        super().__init__(schema, [], out_names)
        self.col, self.k, self.ascending = col, k, ascending
        self.alias = _col_alias(schema, col)

    def keys(self, plan) -> list:
        ordered = sorted(plan.cls)
        if not ordered:
            return []
        stats = np.array(
            [plan.info[self.col][kk] for kk in ordered], np.int64
        ).reshape(len(ordered), 5)
        keep = _topk_survivors(
            stats[:, 0] - stats[:, 1],  # valid values of col
            stats[:, 2],
            *_sql_order_zone(stats[:, 3], stats[:, 4], self.alias),
            self.k, self.ascending,
            is_full=np.array(
                [plan.cls[kk] == "full" for kk in ordered], bool
            ),
        )
        return [kk for kk, kp in zip(ordered, keep) if kp]

    def need(self, plan, keys):
        return {self.col: set(keys)}, {}

    def side(self, plan, keys) -> dict:
        return {}

    def fold(self, plan, keys, blk) -> dict:
        sel: dict = {}  # block key -> selected rows
        for seq, skeys in _segments(keys):
            offs = _block_offsets(plan, skeys)
            vals, valid = blk.seg(self.col, seq)
            pos = np.flatnonzero(valid & blk.seg_mask(skeys, offs))
            pos = pos[_topk_pick(_sql_order_keys(vals[pos], self.alias),
                                 self.k, self.ascending)]
            at = np.searchsorted(offs, pos, side="right") - 1
            for i in np.unique(at):
                m = sel[skeys[i]] = np.zeros(plan.nv[skeys[i]], bool)
                m[pos[at == i] - offs[i]] = True
        gkeys = sorted(sel)
        bis = {bi for _, bi in gkeys}
        blobs = dict(blk.blobs) if blk is not None else {}
        rest = [c for c in self.cols if c != self.col]
        if gkeys and rest:
            blobs.update(_fetch_payloads(plan.path, plan.file_sid, plan.seg,
                                         {c: bis for c in rest}))
            plan.side.load({c: bis for c in rest if c in self.str_cols})
        gather = _Blocks(plan, blobs, {c: set(gkeys) for c in self.cols})
        return self._gather(
            plan, gkeys, gather,
            lambda skeys, offs: np.concatenate([sel[k] for k in skeys]),
        )


def topk_table_files(
    spark: SparkSession, enc_dir: str, col: str, k: int,
    ascending: bool = True, columns: list[str] | None = None,
    preds=None,
):
    """TOP-K pushdown into the encoded format: the k rows with the smallest
    (``ascending``) or largest valid values of ``col`` (NULLs excluded,
    SQL ``WHERE col IS NOT NULL ORDER BY col LIMIT k``, floats in SQL
    order: NaN above every number, ``-0.0`` equal to ``0.0``), projected
    to ``columns`` (default ``(order_col, col)``).  ``col`` may be an
    int-plane column (one pass, below) or a dictionary STRING column
    (:func:`_topk_table_files_str`: candidates from the sorted-distinct
    sidecars alone, threshold as a one-sided string bound, final pass the
    membership-pruned scan — binary collation, as everywhere).  When the
    dataset's order column is in the projection it tie-breaks equal
    values ascending, making the selected row SET deterministic (``ORDER
    BY col, order_col LIMIT k``); without it, ties at the boundary are
    arbitrary, as in SQL.

    One pass, no full sort of the table: one task per (blocks file,
    segment) emits its own k best rows, already projected
    (:class:`_TopkReducer`: it decodes ``col`` only at the blocks its
    zone-map plan keeps, :func:`_topk_survivors`, and the projection
    only at the at most k blocks holding the chosen rows).  This process
    ranks those at most k x tasks partials (:func:`_task_batches`: a
    tiny plan runs in-process with no Spark job, any other as one Spark
    stage) and returns the k best as a local relation whose rows are
    already in ``ORDER BY`` order.

    ``preds`` restricts the ranking to rows matching a CONJUNCTION of the
    same five predicate kinds :func:`scan_table_files_where` takes (SQL
    ``WHERE ... AND col IS NOT NULL ORDER BY col LIMIT k``): the bound
    comes from FULL-matching blocks' exact counts and partial blocks
    mask."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    schema = _load_table_schema(enc_dir)
    if schema is not None and col in schema["str_cols"]:
        # string ORDER BY rides the dictionary sidecars (sorted-distinct
        # per block): candidates are sidecar-only, the threshold is a
        # string bound, the final pass the membership-pruned scan
        return _topk_table_files_str(
            spark, enc_dir, schema, col, int(k), ascending, columns,
            preds,
        )
    schema = _require_int_col(enc_dir, col)
    specs = _norm_preds(schema, preds) if preds else []
    out_names = _scan_out_names(schema, col, columns)
    # the sort column rides along even when the caller's projection omits
    # it (the ranking needs it), then drops before returning
    scan_names = out_names if col in out_names else [*out_names, col]
    reducer = _TopkReducer(schema, col, int(k), ascending, scan_names)
    parts = _task_batches(spark, enc_dir, _query_tasks(enc_dir), reducer,
                          specs)
    rank = _sql_rank(parts[col], reducer.alias)
    sort_keys = [rank if ascending else ~rank]
    order_col = schema["order_col"]
    if order_col in out_names and order_col != col:
        sort_keys.append(
            _sql_rank(parts[order_col], _col_alias(schema, order_col)))
    # lexsort is stable: rows tied on every key keep partial order (task,
    # then row); its last key is the primary one
    pick = np.lexsort(sort_keys[::-1])[:k]
    return _local_relation(
        spark, _typed_ddl(schema, out_names),
        parts.take(pick).select(out_names).to_batches(),
    )
