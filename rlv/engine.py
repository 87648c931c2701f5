"""Token-plane kernels and the DataFrame passes built on them.

* **Batch kernels** — one vectorized stats sweep per Arrow batch
  (:func:`_batch_doc_stats`: run boundaries / min / max / ndv over *runs*),
  the exact per-codec size matrix (:func:`_codec_size_matrix`), selection per
  doc as its argmin, and per-doc block serialization vectorized across docs
  (:func:`_grouped_encode`).  :mod:`rlv.engine_files` writes every token-plane
  dataset with these kernels; the per-doc independence of RLE encode is
  licensed by the composition laws (rl_encoding.v:994-1021, 1125-1129):
  arrays are per-row, so no seam state is needed between batches at all.
* **DataFrame passes** (``mapInArrow``) — :func:`encode_pass`,
  :func:`decode_pass`, :func:`runs_pass`, :func:`count_runs_pass`,
  :func:`strings_pass` and :func:`encode_chunked_sequences` expose the same
  kernels relationally, so a query can encode, decode or decompose a token
  DataFrame and check the result against an independent SQL oracle.

No row-at-a-time Python anywhere: Python touches data only through numpy views
of Arrow buffers.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rlv import blocks as B
from rlv.util import tune_malloc

ENCODED_SCHEMA = (
    "doc_id string, source string, n_tok int, n_runs bigint, "
    "codec_id int, block binary, enc_bytes bigint, naive_bytes bigint"
)

DECODED_SCHEMA = "doc_id string, decoded array<int>"

RUNS_SCHEMA = "doc_id string, run_idx int, run_count bigint, run_value int"

_HUGE = np.int64(2**62)


def _bitlen(x: np.ndarray) -> np.ndarray:
    """Exact bit_length for 0 <= x < 2**53 (frexp exponent is exact there)."""
    return np.frexp(x.astype(np.float64))[1].astype(np.int64)


def _uvarint_len(x: np.ndarray) -> np.ndarray:
    return np.maximum(1, (_bitlen(x) + 6) // 7)


def _packed_nbytes(n: np.ndarray, bits: np.ndarray) -> np.ndarray:
    return np.where((n == 0) | (bits == 0), 0, (n * bits + 7) // 8)


# column order of _codec_size_matrix == this id order (ascending), so argmin
# ties break toward the lower codec id — the same deterministic rule as the
# scalar selector
_SIZE_MATRIX_IDS = np.array(
    [B.PLAIN, B.RLE, B.BITPACK, B.FOR, B.DICT, B.DELTA], dtype=np.int64
)


def _codec_size_matrix(n, minv, maxv, n_runs, max_count, ndv,
                       firsts, max_zz) -> np.ndarray:
    """Vectorized :func:`rlv.blocks.codec_sizes` over per-doc stat arrays.

    Domain note: the float64-frexp ``_bitlen`` is exact below 2^53; this
    matrix runs on the token path (int32 values by schema), where every
    operand — including the zigzagged first values and deltas — fits.
    """
    zz_min = np.where(minv >= 0, 2 * minv, -2 * minv - 1)
    vrange = maxv - minv
    vbits = _bitlen(vrange)
    cbits = _bitlen(np.maximum(max_count - 1, 0))
    width = np.where((maxv > 2**31 - 1) | (minv < -(2**31)), 8, 4)
    sizes = np.empty((n.size, 6), dtype=np.int64)
    sizes[:, 0] = 1 + _uvarint_len(n) + 1 + width * n
    sizes[:, 1] = (
        1 + _uvarint_len(n_runs) + _uvarint_len(zz_min) + 2
        + _packed_nbytes(n_runs, cbits) + _packed_nbytes(n_runs, vbits)
    )
    sizes[:, 2] = np.where(
        minv >= 0,
        1 + _uvarint_len(n) + 1 + _packed_nbytes(n, _bitlen(np.maximum(maxv, 0))),
        _HUGE,
    )
    sizes[:, 3] = (
        1 + _uvarint_len(n) + _uvarint_len(zz_min) + 1 + _packed_nbytes(n, vbits)
    )
    sizes[:, 4] = (
        1 + _uvarint_len(n) + _uvarint_len(ndv) + _uvarint_len(zz_min) + 1
        + _packed_nbytes(ndv, vbits) + 1
        + _packed_nbytes(n, _bitlen(np.maximum(ndv - 1, 0)))
    )
    zz_first = np.where(firsts >= 0, 2 * firsts, -2 * firsts - 1)
    sizes[:, 5] = (
        1 + _uvarint_len(n) + _uvarint_len(zz_first) + 1
        + _packed_nbytes(np.maximum(n - 1, 0), _bitlen(max_zz))
    )
    return sizes


def _list_offsets_values(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (offsets, flat values) from an Arrow list column."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError("tokens column must not contain nulls")
    offs = col.offsets.to_numpy().astype(np.int64)
    vals = col.values.to_numpy(zero_copy_only=False)
    return offs, vals


def _batch_doc_stats(a: np.ndarray, o: np.ndarray):
    """One vectorized sweep: run structure + per-doc stats for a whole batch.

    ``a`` is the batch-flat token array, ``o`` the n_docs+1 offsets into it.
    Returns (run_len, run_val, doc_run_off, per-doc stats...).  Run boundaries
    are forced at doc starts, so runs never straddle documents.
    """
    n_docs = o.size - 1
    if a.size == 0:
        z = np.zeros(n_docs, dtype=np.int64)
        return (
            np.empty(0, np.int64), np.empty(0, a.dtype),
            np.zeros(n_docs + 1, np.int64),
            z, z.copy(), z.copy(), z.copy(), z.copy(), z.copy(),
            np.empty(0, np.int64), np.zeros(n_docs + 1, np.int64),
            z.copy(), z.copy(), np.empty(0, np.uint64),
        )
    run_start = np.empty(a.size, dtype=bool)
    run_start[0] = True
    np.not_equal(a[1:], a[:-1], out=run_start[1:])
    doc_starts = o[1:-1]
    doc_starts = doc_starts[doc_starts < a.size]
    run_start[doc_starts] = True
    run_starts = np.flatnonzero(run_start)
    run_len = np.diff(run_starts, append=a.size)
    run_val = a[run_starts]
    doc_run_off = np.searchsorted(run_starts, o).astype(np.int64)
    runs_per_doc = np.diff(doc_run_off)
    n_per_doc = np.diff(o)
    # per-doc reductions over runs (== over tokens), segmented over NONEMPTY
    # docs only: empty docs own no runs, so consecutive nonempty docs' run
    # offsets partition run_val exactly.  (The earlier index-clamping variant
    # silently truncated the LAST nonempty doc's segment whenever a batch
    # ended with empty docs — wrong stats, then a bit-width crash in the
    # packer.)
    nonempty_docs = np.flatnonzero(runs_per_doc > 0)
    minv = np.zeros(n_docs, dtype=np.int64)
    maxv = np.zeros(n_docs, dtype=np.int64)
    maxc = np.zeros(n_docs, dtype=np.int64)
    if nonempty_docs.size:
        seg_starts = doc_run_off[nonempty_docs]
        minv[nonempty_docs] = np.minimum.reduceat(
            run_val, seg_starts
        ).astype(np.int64)
        maxv[nonempty_docs] = np.maximum.reduceat(
            run_val, seg_starts
        ).astype(np.int64)
        maxc[nonempty_docs] = np.maximum.reduceat(
            run_len, seg_starts
        ).astype(np.int64)
    # exact ndv per doc via ONE direct sort of a (doc, value) composite key over
    # runs (distinct-over-runs == distinct-over-tokens).  A direct int64 sort is
    # ~8x faster than np.lexsort here, and runs <= tokens bounds the work.
    doc_of_run = np.repeat(np.arange(n_docs, dtype=np.int64), runs_per_doc)
    gmin = int(run_val.min())
    vrange = int(run_val.max()) - gmin + 1
    if n_docs * vrange < 2**62:
        key = doc_of_run * vrange + (run_val.astype(np.int64) - gmin)
        key.sort()
        new = np.empty(key.size, dtype=bool)
        new[0] = True
        np.not_equal(key[1:], key[:-1], out=new[1:])
        distinct_keys = key[new]
        ndv = np.bincount(distinct_keys // vrange, minlength=n_docs).astype(np.int64)
        distinct_vals = distinct_keys % vrange + gmin
    else:  # pathological value range: fall back to lexsort
        order = np.lexsort((run_val, doc_of_run))
        sv = run_val[order]
        sd = doc_of_run[order]
        new = np.empty(sv.size, dtype=bool)
        new[0] = True
        np.logical_or(sv[1:] != sv[:-1], sd[1:] != sd[:-1], out=new[1:])
        ndv = np.bincount(sd[new], minlength=n_docs).astype(np.int64)
        distinct_vals = sv[new].astype(np.int64)
    ndv_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(ndv, out=ndv_off[1:])
    # DELTA stats: per-doc first value + max zigzagged successive diff.
    # Same nonempty-segment discipline: reduceat starts only at docs with
    # >= 2 tokens (their o[d] <= zz.size - 1 by construction); the gaps
    # between such docs hold only zeroed seam pairs, so each segment's max
    # is exactly the doc's interior max.
    firsts = np.zeros(n_docs, dtype=np.int64)
    firsts[nonempty_docs] = a[o[:-1][nonempty_docs]]
    max_zz = np.zeros(n_docs, dtype=np.int64)
    if a.size > 1:
        d = np.subtract(a[1:], a[:-1], dtype=np.int64)
        zz = ((d << 1) ^ (d >> 63)).astype(np.uint64)
        seams = o[1:-1] - 1
        seams = seams[(seams >= 0) & (seams < zz.size)]
        zz[seams] = np.uint64(0)
        multi = np.flatnonzero(n_per_doc > 1)
        if multi.size:
            max_zz[multi] = np.maximum.reduceat(
                zz, o[:-1][multi]
            ).astype(np.int64)
    else:
        zz = np.empty(0, np.uint64)
    return (run_len, run_val, doc_run_off, n_per_doc, minv, maxv, runs_per_doc,
            maxc, ndv, distinct_vals, ndv_off, firsts, max_zz, zz)


def _grouped_encode(a, o, n_per_doc, minv, maxv, maxc, chosen,
                    run_len, run_val, doc_run_off,
                    distinct_vals, ndv_off, firsts=None, max_zz=None,
                    zz_all=None) -> list[bytes]:
    """Serialize every doc's block, vectorized across docs for ALL codecs.

    Every packed plane is produced by ``pack_bits_multi`` over the whole
    same-bit-width group (one numpy pass per (plane, width)); per-doc Python
    reduces to header assembly and payload slicing.  Byte-identical to the
    scalar encoders (tested against selector.encode_auto).
    """
    from rlv.kernels.bitpack import pack_bits_multi, write_uvarint, zigzag

    n_docs = n_per_doc.size
    out: list[bytes] = [b""] * n_docs  # empty docs encode to b""
    vbits = _bitlen(maxv - minv)
    pbits = _bitlen(np.maximum(maxv, 0))
    cbits = _bitlen(np.maximum(maxc - 1, 0))
    runs_per_doc = np.diff(doc_run_off)
    ndv = np.diff(ndv_off)
    minv_u64 = minv.astype(np.uint64)

    def gather(src, src_off, docs, lens):
        """Concatenate per-doc slices of ``src`` (doc-major)."""
        local = np.cumsum(lens) - lens
        idx = np.arange(int(lens.sum()), dtype=np.int64) + np.repeat(
            src_off[docs] - local, lens
        )
        return src[idx]

    def plane_groups(base, bits_arr, lens_all, values_of):
        """Yield (docs, bits, payload, byte_offs) per same-width subgroup."""
        for bits in np.unique(bits_arr[base]):
            docs = base[bits_arr[base] == bits]
            lens = lens_all[docs]
            payload, offs = pack_bits_multi(values_of(docs, lens), lens, int(bits))
            yield docs, int(bits), payload, offs

    # ---- BITPACK / FOR ----
    for codec, bits_arr, sub_min in (
        (B.BITPACK, pbits, False), (B.FOR, vbits, True),
    ):
        base = np.flatnonzero((chosen == codec) & (n_per_doc > 0))
        if base.size == 0:
            continue

        def tok_values(docs, lens, _sub=sub_min):
            sel = gather(a, o, docs, lens).astype(np.uint64)
            if _sub:
                sel -= np.repeat(minv_u64[docs], lens)
            return sel

        for docs, bits, payload, offs in plane_groups(
            base, bits_arr, n_per_doc, tok_values
        ):
            for j, d in enumerate(docs):
                hdr = bytearray([codec])
                write_uvarint(hdr, int(n_per_doc[d]))
                if sub_min:
                    write_uvarint(hdr, zigzag(int(minv[d])))
                hdr.append(bits)
                out[d] = bytes(hdr) + payload[offs[j]:offs[j + 1]]

    # ---- RLE: two planes (counts-1 by cbits, value deltas by vbits) ----
    base = np.flatnonzero((chosen == B.RLE) & (n_per_doc > 0))
    if base.size:
        cpay: dict[int, bytes] = {}
        for docs, bits, payload, offs in plane_groups(
            base, cbits, runs_per_doc,
            lambda docs, lens: gather(run_len, doc_run_off, docs, lens).astype(
                np.uint64
            ) - np.uint64(1),
        ):
            for j, d in enumerate(docs):
                cpay[d] = payload[offs[j]:offs[j + 1]]
        for docs, bits, payload, offs in plane_groups(
            base, vbits, runs_per_doc,
            lambda docs, lens: gather(run_val, doc_run_off, docs, lens).astype(
                np.uint64
            ) - np.repeat(minv_u64[docs], lens),
        ):
            for j, d in enumerate(docs):
                hdr = bytearray([B.RLE])
                write_uvarint(hdr, int(runs_per_doc[d]))
                write_uvarint(hdr, zigzag(int(minv[d])))
                hdr.append(int(cbits[d]))
                hdr.append(int(vbits[d]))
                out[d] = bytes(hdr) + cpay[d] + payload[offs[j]:offs[j + 1]]

    # ---- DICT: dictionary plane (== vbits) + index plane (by ibits) ----
    base = np.flatnonzero((chosen == B.DICT) & (n_per_doc > 0))
    if base.size:
        ibits = _bitlen(np.maximum(ndv - 1, 0))
        dpay: dict[int, bytes] = {}
        for docs, bits, payload, offs in plane_groups(
            base, vbits, ndv,
            lambda docs, lens: gather(distinct_vals, ndv_off, docs, lens).astype(
                np.uint64
            ) - np.repeat(minv_u64[docs], lens),
        ):
            for j, d in enumerate(docs):
                dpay[d] = payload[offs[j]:offs[j + 1]]
        # indices: per-doc searchsorted into the stats sweep's sorted uniques
        inv_parts = {
            int(d): np.searchsorted(
                distinct_vals[ndv_off[d]:ndv_off[d + 1]], a[o[d]:o[d + 1]]
            ).astype(np.uint64)
            for d in base
        }
        for docs, bits, payload, offs in plane_groups(
            base, ibits, n_per_doc,
            lambda docs, lens: np.concatenate([inv_parts[int(d)] for d in docs]),
        ):
            for j, d in enumerate(docs):
                hdr = bytearray([B.DICT])
                write_uvarint(hdr, int(n_per_doc[d]))
                write_uvarint(hdr, int(ndv[d]))
                write_uvarint(hdr, zigzag(int(minv[d])))
                hdr.append(int(vbits[d]))
                hdr += dpay[d]
                hdr.append(int(ibits[d]))
                out[d] = bytes(hdr) + payload[offs[j]:offs[j + 1]]

    # ---- DELTA: first value header + one zigzag-diff plane (zz_all comes
    # from the stats sweep; its zeroed seam entries are never gathered — a
    # doc's diff plane is the interior indices o[d]..o[d]+n-2 only) ----
    base = np.flatnonzero((chosen == B.DELTA) & (n_per_doc > 0))
    if base.size:
        dbits = _bitlen(max_zz)
        for docs, bits, payload, offs in plane_groups(
            base, dbits, n_per_doc - 1,
            lambda docs, lens: gather(zz_all, o, docs, lens),
        ):
            for j, d in enumerate(docs):
                hdr = bytearray([B.DELTA])
                write_uvarint(hdr, int(n_per_doc[d]))
                write_uvarint(hdr, zigzag(int(firsts[d])))
                hdr.append(bits)
                out[d] = bytes(hdr) + payload[offs[j]:offs[j + 1]]

    # ---- PLAIN: straight fixed-width casts, grouped by width ----
    base = np.flatnonzero((chosen == B.PLAIN) & (n_per_doc > 0))
    if base.size:
        wide = (maxv[base] > 2**31 - 1) | (minv[base] < -(2**31))
        for width, docs in ((4, base[~wide]), (8, base[wide])):
            if docs.size == 0:
                continue
            lens = n_per_doc[docs]
            buf = gather(a, o, docs, lens).astype(f"<i{width}").tobytes()
            byte_off = (np.cumsum(lens) - lens) * width
            for j, d in enumerate(docs):
                hdr = bytearray([B.PLAIN])
                write_uvarint(hdr, int(lens[j]))
                hdr.append(width)
                end = byte_off[j] + int(lens[j]) * width
                out[d] = bytes(hdr) + buf[byte_off[j]:end]
    return out


def _make_encode_arrow_batches(disable_codecs: tuple[int, ...] = ()):
    """Encode-batch closure with an optional candidate mask.

    ``disable_codecs`` removes codec ids from the selector's candidate set
    (their size-matrix column becomes +inf) — the bench's DELTA on/off A/B
    lever, also useful to pin a dataset to a codec subset.  RLE cannot be
    disabled: the naive-RLE budget invariant (chosen <= 16*runs) is proved
    via RLE always being a candidate."""
    if B.RLE in disable_codecs:
        raise ValueError(
            "RLE cannot be disabled: the size budget invariant needs it "
            "as a candidate"
        )
    bad = [c for c in disable_codecs if c not in _SIZE_MATRIX_IDS]
    if bad:
        raise ValueError(
            f"disable_codecs: ids {bad} are not selector candidates; "
            f"valid ids: {_SIZE_MATRIX_IDS.tolist()}"
        )
    disabled_cols = [
        int(np.flatnonzero(_SIZE_MATRIX_IDS == c)[0])
        for c in disable_codecs
    ]

    def _encode_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_malloc()
        for batch in it:
            tb = pa.table(batch)
            offs, vals = _list_offsets_values(tb.column("tokens"))
            a = vals[offs[0]:offs[-1]]
            o = offs - offs[0]
            (run_len, run_val, doc_run_off, n_per_doc, minv, maxv,
             runs_per_doc, maxc, ndv, distinct_vals, ndv_off,
             firsts, max_zz, zz_all) = _batch_doc_stats(a, o)
            n_docs = o.size - 1
            sizes = _codec_size_matrix(n_per_doc, minv, maxv, runs_per_doc,
                                       maxc, ndv, firsts, max_zz)
            for col in disabled_cols:
                sizes[:, col] = _HUGE
            chosen = _SIZE_MATRIX_IDS[sizes.argmin(axis=1)]
            out_blocks = _grouped_encode(
                a, o, n_per_doc, minv, maxv, maxc, chosen,
                run_len, run_val, doc_run_off, distinct_vals, ndv_off,
                firsts, max_zz, zz_all,
            )
            enc_bytes = np.fromiter(
                (len(b) for b in out_blocks), np.int64, n_docs
            )
            yield pa.record_batch(
                [
                    tb.column("doc_id").combine_chunks(),
                    tb.column("source").combine_chunks(),
                    pa.array(n_per_doc.astype(np.int32), type=pa.int32()),
                    pa.array(runs_per_doc, type=pa.int64()),
                    pa.array(
                        np.where(n_per_doc == 0, 0, chosen).astype(np.int32),
                        type=pa.int32(),
                    ),
                    pa.array(out_blocks, type=pa.binary()),
                    pa.array(enc_bytes, type=pa.int64()),
                    pa.array(16 * runs_per_doc, type=pa.int64()),
                ],
                names=[
                    "doc_id", "source", "n_tok", "n_runs",
                    "codec_id", "block", "enc_bytes", "naive_bytes",
                ],
            )

    return _encode_batches


# default instance: full candidate set (the hot path everywhere)
_encode_arrow_batches = _make_encode_arrow_batches()


def _make_runs_batches(cap: int | None, normalize: bool = False):
    """Run decomposition as rows — ``decompose_runs`` (rl_encoding.v:877-890),
    optionally cap-split (``rle_encode_maxrun``, v:4137-4154) and then
    re-``normalize``d (v:259-274) — exposed relationally so the DuckDB oracle
    can check the kernel against an independent SQL-window implementation.
    With both flags, the output must equal the plain decomposition
    (``encode_is_normalize``, v:1594-1620: normalize of any decode-equivalent
    run list is the canonical encoding)."""
    from rlv.kernels import rle

    def _runs_arrow_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_malloc()
        for batch in it:
            tb = pa.table(batch)
            offs, vals = _list_offsets_values(tb.column("tokens"))
            a = vals[offs[0]:offs[-1]]
            o = offs - offs[0]
            run_len, run_val, doc_run_off, *_ = _batch_doc_stats(a, o)
            runs_per_doc = np.diff(doc_run_off)
            if cap is not None and run_len.size:
                pieces = -(-run_len // cap)
                runs_per_doc = np.zeros(runs_per_doc.size, dtype=np.int64)
                np.add.reduceat(
                    pieces,
                    np.minimum(doc_run_off[:-1], max(pieces.size - 1, 0)),
                    out=runs_per_doc,
                )
                runs_per_doc[np.diff(doc_run_off) == 0] = 0
                run_len, run_val = rle.maxrun_split(run_len, run_val, cap)
                doc_run_off = np.concatenate(
                    ([0], np.cumsum(runs_per_doc))
                ).astype(np.int64)
            if normalize and run_len.size:
                # vectorized normalize (v:259-274): merge adjacent equal-value
                # runs within each doc (counts are already positive)
                ntot = run_len.size
                new = np.empty(ntot, dtype=bool)
                new[0] = True
                np.not_equal(run_val[1:], run_val[:-1], out=new[1:])
                ds = doc_run_off[1:-1]
                new[ds[ds < ntot]] = True
                starts = np.flatnonzero(new)
                run_len = np.add.reduceat(run_len, starts)
                run_val = run_val[starts]
                doc_run_off = np.searchsorted(starts, doc_run_off).astype(np.int64)
                runs_per_doc = np.diff(doc_run_off)
            n_runs = run_len.size
            doc_idx = np.repeat(np.arange(o.size - 1, dtype=np.int64), runs_per_doc)
            run_idx = np.arange(n_runs, dtype=np.int64) - np.repeat(
                doc_run_off[:-1], runs_per_doc
            )
            doc_ids = tb.column("doc_id").combine_chunks().take(pa.array(doc_idx))
            yield pa.record_batch(
                [
                    doc_ids,
                    pa.array(run_idx.astype(np.int32), type=pa.int32()),
                    pa.array(run_len.astype(np.int64), type=pa.int64()),
                    pa.array(run_val.astype(np.int32), type=pa.int32()),
                ],
                names=["doc_id", "run_idx", "run_count", "run_value"],
            )

    return _runs_arrow_batches


def runs_pass(
    df: DataFrame, cap: int | None = None, normalize: bool = False
) -> DataFrame:
    """Token table -> one row per maximal run (doc_id, run_idx, count, value);
    with ``cap``, runs are split at the max-run-length bound first; with
    ``normalize``, adjacent equal-value runs are re-merged (v:259-274)."""
    return df.select("doc_id", "tokens").mapInArrow(
        _make_runs_batches(cap, normalize), RUNS_SCHEMA
    )


def _count_runs_arrow_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    tune_malloc()
    for batch in it:
        tb = pa.table(batch)
        offs, vals = _list_offsets_values(tb.column("tokens"))
        a = vals[offs[0]:offs[-1]]
        o = offs - offs[0]
        if a.size == 0:
            n_runs = np.zeros(o.size - 1, dtype=np.int64)
        else:
            run_start = np.empty(a.size, dtype=bool)
            run_start[0] = True
            np.not_equal(a[1:], a[:-1], out=run_start[1:])
            doc_starts = o[1:-1]
            run_start[doc_starts[doc_starts < a.size]] = True
            # runs per doc = count of run starts in [o[i], o[i+1]) — a cumsum
            # sampled at the doc offsets, no run materialization (the point of
            # count_runs, rl_encoding.v:467-481: size without the encoding)
            csum = np.zeros(a.size + 1, dtype=np.int64)
            np.cumsum(run_start, out=csum[1:])
            n_runs = csum[o[1:]] - csum[o[:-1]]
        yield pa.record_batch(
            [
                tb.column("doc_id").combine_chunks(),
                pa.array(n_runs, type=pa.int64()),
            ],
            names=["doc_id", "n_runs"],
        )


def count_runs_pass(df: DataFrame) -> DataFrame:
    """count_runs (rl_encoding.v:467-481) per document — the run count
    WITHOUT materializing the run decomposition: one boolean sweep + cumsum
    per batch, emitting one row per doc (vs one per run in
    :func:`runs_pass`).  At 10^12 sequences this is the cheap stats facet:
    output cardinality = #docs, not #runs."""
    return df.select("doc_id", "tokens").mapInArrow(
        _count_runs_arrow_batches, "doc_id string, n_runs bigint"
    )


def _make_strings_batches(symbols: list[bytes] | None):
    """Per-batch string-column encode (STRDICT = dict + FSST) with an inline
    decode check; emits per-row verification + per-batch size metrics.
    ``symbols`` is the optional corpus-trained FSST table (shipped in the task
    closure — a few KB), switching every chunk to the shared external table."""

    def _strings_arrow_batches(
        it: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        tune_malloc()
        for batch in it:
            tb = pa.table(batch)
            key = tb.column("key").combine_chunks()
            vals = tb.column("value").combine_chunks()
            block = B.encode_strings(vals, symbols)
            # whole-column Arrow compare — the per-row roundtrip bit without
            # per-row Python (the token path's discipline)
            want = vals.cast(pa.binary())
            back = B.decode_strings_arrow(block, symbols)
            n = len(vals)
            if len(back) == n:
                ok = pc.equal(back, want).cast(pa.int32())
            else:  # count mismatch: every row unverified
                ok = pa.array(np.zeros(n, dtype=np.int32))
            raw = int(pc.sum(pc.binary_length(want)).as_py() or 0)
            yield pa.record_batch(
                [
                    key,
                    ok,
                    pa.array(np.full(n, len(block), dtype=np.int64)),
                    pa.array(np.full(n, raw, dtype=np.int64)),
                ],
                names=["key", "ok", "chunk_enc_bytes", "chunk_raw_bytes"],
            )

    return _strings_arrow_batches


def strings_pass(
    df: DataFrame,
    value_col: str,
    key_col: str,
    symbols: list[bytes] | None = None,
) -> DataFrame:
    """String-column codec pass: (key, ok, chunk sizes) per row.

    ``ok`` is the per-row STRDICT roundtrip bit; chunk columns carry the
    encoded/raw byte sizes of the row's Arrow batch (chunk = column chunk).
    Pass ``symbols`` (e.g. ``sample_pass(...)["fsst_symbols"]`` decoded from
    hex) to encode every chunk against the corpus-trained FSST table instead
    of training per chunk.
    """
    sel = df.select(F.col(key_col).alias("key"), F.col(value_col).alias("value"))
    return sel.mapInArrow(
        _make_strings_batches(symbols),
        "key string, ok int, chunk_enc_bytes bigint, chunk_raw_bytes bigint",
    )


CHUNKED_SCHEMA = (
    "doc_id string, n_tok bigint, n_runs bigint, block binary, enc_bytes bigint"
)


def encode_chunked_sequences(df: DataFrame, cap: int = 2**30) -> DataFrame:
    """Encode logical sequences that arrive as ordered chunks
    (``doc_id, chunk_idx, tokens``) — the distributed form of the reference's
    streaming encoder API (SURVEY §2.6).

    Chunks of one sequence are co-located by the grouped-map shuffle; inside
    the group the O(1)-state chunk fold ``stream_complete_encode``
    (rl_encoding.v:4544-4549) stitches seams, and ``stream_eq_batch``
    (v:4695-4715) guarantees the result equals encoding the concatenation —
    restated as the pytest property chunked == batch.  The capped run list is
    then serialized with the RLE block format.
    """
    from rlv.kernels import rle

    def per_doc(pdf):
        import pandas as pd

        tune_malloc()
        pdf = pdf.sort_values("chunk_idx")
        chunks = [np.asarray(c, dtype=np.int64) for c in pdf["tokens"]]
        counts, values = rle.stream_complete_encode(cap, chunks)
        block = B.encode_rle_runs(counts, values) if counts.size else b""
        return pd.DataFrame(
            {
                "doc_id": [pdf["doc_id"].iloc[0]],
                "n_tok": [int(sum(c.size for c in chunks))],
                "n_runs": [int(counts.size)],
                "block": [block],
                "enc_bytes": [len(block)],
            }
        )

    return df.groupBy("doc_id").applyInPandas(per_doc, CHUNKED_SCHEMA)


def _decode_arrow_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    tune_malloc()
    for batch in it:
        tb = pa.table(batch)
        blocks_col = tb.column("block").combine_chunks()
        expected = (
            tb.column("n_tok").combine_chunks().to_numpy()
            if "n_tok" in tb.column_names else None
        )
        # expected doubles as the decode-size guard (compute_decode_size_early
        # / safe_decode_with_limit, rl_encoding.v:4013-4014, 5034-5069): a
        # corrupt block fails loudly BEFORE any allocation, never silently
        flat, offsets = B.decode_blocks_batch(
            blocks_col.to_pylist(), np.int32, expected=expected
        )
        if int(offsets[-1]) >= 2**31:
            # the declared result schema is array<int> (int32 offsets); a
            # batch decoding past that must fail loudly, never wrap (the
            # files-plane decoder upgrades to LargeList instead — use it for
            # monster batches)
            raise ValueError(
                f"decoded batch holds {int(offsets[-1])} tokens, past the "
                "int32 list-offset range; reduce the Arrow batch size"
            )
        decoded = pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32), type=pa.int32()),
            pa.array(flat, type=pa.int32()),
        )
        yield pa.record_batch(
            [tb.column("doc_id").combine_chunks(), decoded],
            names=["doc_id", "decoded"],
        )


# ---------------------------------------------------------------------------
# Public passes
# ---------------------------------------------------------------------------


def encode_pass(df: DataFrame) -> DataFrame:
    """Token table -> encoded blocks + per-doc metrics."""
    return df.select("doc_id", "tokens", "n_tok", "source").mapInArrow(
        _encode_arrow_batches, ENCODED_SCHEMA
    )


def decode_pass(encoded: DataFrame, check_sizes: bool = True) -> DataFrame:
    """Encoded blocks -> decoded token arrays (the read path).

    With ``check_sizes`` the per-row ``n_tok`` acts as the decode-size budget
    (``safe_decode_with_limit`` semantics, v:5034-5069): size disagreement
    raises instead of surfacing silently-wrong data.
    """
    cols = ["doc_id", "block"] + (
        ["n_tok"] if check_sizes and "n_tok" in encoded.columns else []
    )
    return encoded.select(*cols).mapInArrow(_decode_arrow_batches, DECODED_SCHEMA)
