"""Vectorized run-length-encoding kernels with the semantics RunLength-Verified proves.

Every public function here restates an executable definition from the reference Coq
development (``/root/reference/rl_encoding.v``, cited as ``v:<lines>``) as a numpy
array kernel.  The reference works on cons-lists of unbounded naturals; we work on
1-D numpy integer arrays (dtype-generic — the GenericRLE section v:2145-2486 proves
the algorithm is element-type agnostic).  A run is ``(count, value)`` with count
first (v:34); an encoding is the pair of parallel arrays ``(counts, values)``.

The correspondence each kernel must satisfy is locked by the pytest/hypothesis suite
in ``tests/test_rle_kernel.py`` (one test per cited theorem).

Nothing in this module touches Spark: these kernels run inside Arrow batches in
``rlv.engine`` via ``mapInArrow``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# Bounded domain validated by the reference's extraction story: values and lengths
# below 2^30 - 1 are proven safe across the Coq->OCaml boundary (v:3825,
# rl_encoding.ml:103).  We keep the same constant so the *_validated wrappers match.
MAX_INT_RUNTIME = 1_073_741_823  # 2**30 - 1

# Fixed-width value bounds (v:5284-5290) and PackBits-style count caps (v:4156-4157).
MAX_INT_8 = 2**8 - 1
MAX_INT_16 = 2**16 - 1
MAX_INT_32 = 2**32 - 1
BYTE_LIMIT = 255
SEVEN_BIT_LIMIT = 127

_EMPTY_I64 = np.empty(0, dtype=np.int64)


def _as_1d(a) -> np.ndarray:
    arr = np.asarray(a)
    if arr.ndim != 1:
        raise ValueError(f"expected 1-D array, got shape {arr.shape}")
    return arr


def rle_encode(a) -> tuple[np.ndarray, np.ndarray]:
    """Canonical RLE encode: ``rle_encode`` / ``rle_encode_aux`` (v:36-50).

    Returns ``(counts, values)``; counts is int64, values keeps the input dtype.
    Single left-to-right pass semantics, O(n) (v:2564-2570), realized as a
    vectorized boundary scan.  Output is well-formed by construction: counts > 0
    and adjacent values differ (v:247-255), and it is the unique minimal
    well-formed encoding (v:828-856, 1524-1538).
    """
    arr = _as_1d(a)
    if arr.size == 0:
        return _EMPTY_I64.copy(), arr[:0].copy()
    boundaries = np.flatnonzero(arr[1:] != arr[:-1]) + 1
    starts = np.concatenate((np.zeros(1, dtype=np.int64), boundaries))
    ends = np.concatenate((boundaries, np.array([arr.size], dtype=np.int64)))
    counts = ends - starts
    values = arr[starts]
    return counts, values


def rle_decode(counts, values) -> np.ndarray:
    """``rle_decode`` (v:58-62): concat of ``repeat count val`` per run.

    ``np.repeat`` is the vectorized form of ``repeat`` (v:52-56); zero-count runs
    contribute nothing, matching ``rle_decode_invalid_count`` (v:1724-1728).
    """
    counts = _as_1d(counts)
    values = _as_1d(values)
    if counts.size != values.size:
        raise ValueError("counts/values length mismatch")
    if counts.size == 0:
        return values[:0].copy()
    if counts.size and counts.min() < 0:
        raise ValueError("negative run count")
    return np.repeat(values, counts)


def count_runs(a) -> int:
    """``count_runs`` (v:467-481): number of maximal runs without materializing."""
    arr = _as_1d(a)
    if arr.size == 0:
        return 0
    return int((arr[1:] != arr[:-1]).sum()) + 1


def is_well_formed(counts, values) -> bool:
    """``well_formed_rle`` (v:148-151): counts > 0 and no adjacent equal values."""
    counts = _as_1d(counts)
    values = _as_1d(values)
    if counts.size != values.size:
        return False
    if counts.size == 0:
        return True
    if counts.min() <= 0:
        return False
    return bool((values[1:] != values[:-1]).all())


def normalize(counts, values) -> tuple[np.ndarray, np.ndarray]:
    """``normalize`` (v:259-274): drop zero-count runs, merge adjacent equal values.

    Produces the canonical well-formed encoding; equals ``rle_encode(rle_decode .)``
    on nonempty input (``encode_is_normalize``, v:1594-1620), preserves decode
    (``normalize_correct``, v:344-358), and is length-nonincreasing (v:394-407).
    Vectorized: mask + ``np.add.reduceat`` group-sum — linear time, matching the
    reference's step model (``normalize_linear_time``, v:380-391).
    """
    counts = _as_1d(counts).astype(np.int64, copy=False)
    values = _as_1d(values)
    keep = counts > 0
    counts = counts[keep]
    values = values[keep]
    if counts.size == 0:
        return _EMPTY_I64.copy(), values[:0].copy()
    starts = np.concatenate(
        (np.zeros(1, dtype=np.int64), np.flatnonzero(values[1:] != values[:-1]) + 1)
    )
    merged_counts = np.add.reduceat(counts, starts)
    merged_values = values[starts]
    return merged_counts, merged_values


def sanitize_runs(counts, values) -> tuple[np.ndarray, np.ndarray]:
    """``sanitize_runs`` / ``repair_runs`` (v:1899-1900, 2013-2014).

    Removes zero-count (corrupt) runs only — does NOT merge adjacent equal values.
    Decode-preserving (v:1935-1939), idempotent (v:1942-1951).
    """
    counts = _as_1d(counts)
    values = _as_1d(values)
    keep = counts > 0
    return counts[keep].astype(np.int64, copy=False), values[keep]


repair_runs = sanitize_runs


def detect_corruption(counts) -> bool:
    """``detect_corruption`` (v:1975-1976): any zero-count run present."""
    counts = _as_1d(counts)
    return bool((counts == 0).any())


def count_corruptions(counts) -> int:
    """``count_corruptions`` (v:2085-2086): number of zero-count runs."""
    counts = _as_1d(counts)
    return int((counts == 0).sum())


def compute_decode_size(counts) -> int:
    """``compute_decode_size`` / ``_early`` (v:5030-5031, 4013-4014): sum of counts."""
    counts = _as_1d(counts)
    return int(counts.sum()) if counts.size else 0


def rle_encode_validated(a, max_int: int = MAX_INT_RUNTIME):
    """``rle_encode_validated`` (v:4006-4011).

    ``Some runs`` iff ``len(l) <= max_int`` and every value ``< max_int``; else
    ``None``.  Total on valid input (``validated_encode_complete``, v:4107-4121).
    """
    arr = _as_1d(a)
    if arr.size > max_int:
        return None
    if arr.size and (int(arr.max()) >= max_int or int(arr.min()) < 0):
        return None
    return rle_encode(arr)


def rle_decode_validated(counts, values, max_int: int = MAX_INT_RUNTIME):
    """``rle_decode_validated`` (v:4016-4023).

    Decode iff every count in (0, max], every value < max, total size <= max.
    The total-size pre-check is the memory-bomb guard (v:4013-4014, 5059-5069).
    """
    counts = _as_1d(counts)
    values = _as_1d(values)
    if counts.size != values.size:
        return None
    if counts.size == 0:
        return values[:0].copy()
    if counts.min() <= 0 or counts.max() > max_int:
        return None
    if values.min() < 0 or int(values.max()) >= max_int:
        return None
    if int(counts.sum()) > max_int:
        return None
    return np.repeat(values, counts)


def safe_decode_with_limit(counts, values, budget: int):
    """``safe_decode_with_limit`` (v:5034-5039): decode only if Σcounts <= budget.

    Returns None without allocating the output when the budget is exceeded
    (``safe_decode_protects_memory``, v:5059-5069).
    """
    counts = _as_1d(counts)
    if compute_decode_size(counts) > budget:
        return None
    return rle_decode(counts, values)


def bounded_rle_encode(max_val: int, a):
    """``bounded_rle_encode`` (v:5293-5297): encode iff all values <= max_val."""
    arr = _as_1d(a)
    if arr.size and (int(arr.max()) > max_val or int(arr.min()) < 0):
        return None
    return rle_encode(arr)


def bounded_rle_decode(max_val: int, counts, values):
    """``bounded_rle_decode`` (v:5359-5363): decode iff all run values <= max_val."""
    values_arr = _as_1d(values)
    if values_arr.size and (int(values_arr.max()) > max_val or int(values_arr.min()) < 0):
        return None
    return rle_decode(counts, values_arr)


def rle_encode_u8(a):
    """``rle_encode_u8`` (v:5350-5352)."""
    return bounded_rle_encode(MAX_INT_8, a)


def rle_encode_u16(a):
    """``rle_encode_u16`` (v:5353-5354)."""
    return bounded_rle_encode(MAX_INT_16, a)


def rle_encode_u32(a):
    """``rle_encode_u32`` (v:5355-5356)."""
    return bounded_rle_encode(MAX_INT_32, a)


def rle_decode_u8(counts, values):
    """``rle_decode_u8`` (v:5365-5366)."""
    return bounded_rle_decode(MAX_INT_8, counts, values)


def rle_decode_u16(counts, values):
    """``rle_decode_u16`` (v:5368-5369)."""
    return bounded_rle_decode(MAX_INT_16, counts, values)


def rle_decode_u32(counts, values):
    """``rle_decode_u32`` (v:5371-5372)."""
    return bounded_rle_decode(MAX_INT_32, counts, values)


def maxrun_split(counts, values, cap: int) -> tuple[np.ndarray, np.ndarray]:
    """Split runs at a max-run-length cap: each ``(c, v)`` becomes ``ceil(c/cap)``
    runs of at most ``cap``.

    Post-processing a canonical encoding this way equals the reference's direct
    capped encoder ``rle_encode_aux_maxrun`` (v:4137-4148): the capped encoder
    emits ``cap``-sized runs greedily from the left, so the remainder run lands
    last — we place it last too.  Correctness anchor ``rle_maxrun_correct``
    (v:4254-4264); counts <= cap (``rle_maxrun_bounded``, v:4336-4345);
    counts > 0 (v:4299-4310).
    """
    if cap <= 0:
        raise ValueError("cap must be > 0 (v:4150-4154)")
    counts = _as_1d(counts).astype(np.int64, copy=False)
    values = _as_1d(values)
    if counts.size == 0:
        return _EMPTY_I64.copy(), values[:0].copy()
    if counts.min() <= 0:
        raise ValueError("maxrun_split requires positive counts")
    pieces = -(-counts // cap)  # ceil division
    out_values = np.repeat(values, pieces)
    out_counts = np.full(int(pieces.sum()), cap, dtype=np.int64)
    last_idx = np.cumsum(pieces) - 1
    out_counts[last_idx] = counts - cap * (pieces - 1)
    return out_counts, out_values


def rle_encode_maxrun(cap: int, a) -> tuple[np.ndarray, np.ndarray]:
    """``rle_encode_maxrun`` (v:4150-4154): canonical encode, then split at cap."""
    counts, values = rle_encode(a)
    return maxrun_split(counts, values, cap)


def rle_encode_byte(a):
    """``rle_encode_byte`` (v:4159): maxrun preset cap=255 (PackBits)."""
    return rle_encode_maxrun(BYTE_LIMIT, a)


def rle_encode_7bit(a):
    """``rle_encode_7bit`` (v:4160): maxrun preset cap=127."""
    return rle_encode_maxrun(SEVEN_BIT_LIMIT, a)


def is_wf_capped(counts, values, cap: int) -> bool:
    """``wf_rle_capped`` (v:4266-4270): counts in (0, cap]; adjacent equal values
    allowed only when the left run is exactly at cap."""
    counts = _as_1d(counts)
    values = _as_1d(values)
    if counts.size != values.size:
        return False
    if counts.size == 0:
        return True
    if counts.min() <= 0 or counts.max() > cap:
        return False
    eq_adjacent = values[1:] == values[:-1]
    left_at_cap = counts[:-1] == cap
    return bool((~eq_adjacent | left_at_cap).all())


def bounded_rle_encode_full(max_val: int, cap: int, a):
    """``bounded_rle_encode_full`` (v:5304-5318): value bound AND count bound via
    maxrun, with the post-hoc width double-check of the reference."""
    arr = _as_1d(a)
    if arr.size and (int(arr.max()) > max_val or int(arr.min()) < 0):
        return None
    counts, values = rle_encode_maxrun(cap, arr)
    if counts.size and int(counts.max()) > cap:  # post-hoc runs_fit_width check
        return None
    return counts, values


def rle_encode_u8_safe(a):
    """``rle_encode_u8_safe`` (v:5317-5318): u8 values, u8 counts — byte-block codec."""
    return bounded_rle_encode_full(MAX_INT_8, BYTE_LIMIT, a)


# ---------------------------------------------------------------------------
# Streaming (chunked) encoder — constant-space carry state between chunks.
# ---------------------------------------------------------------------------


@dataclass
class StreamState:
    """``rle_stream_state`` (v:4436-4440): (current_val, current_count, max_run).

    count == 0 means "empty state" (v:4445-4456 case analysis).  Proven O(1) size
    (v:4717-4731); invariant 0 <= count <= max_run (``stream_state_invariant``,
    v:4476-4479).
    """

    current_val: int = 0
    current_count: int = 0
    max_run: int = 0


def init_stream_state(max_run: int) -> StreamState:
    """``init_stream_state`` (v:4442-4443)."""
    if max_run <= 0:
        raise ValueError("max_run must be > 0")
    return StreamState(0, 0, max_run)


def stream_push(state: StreamState, value: int) -> tuple[tuple[int, int] | None, StreamState]:
    """``stream_push`` (v:4445-4456) — per-element reference model.

    Kept for the equivalence tests only; the engine never calls this per element
    (that would be per-row Python).  ``stream_eq_batch`` (v:4695-4715) licenses
    the vectorized chunk path below.
    """
    cap = state.max_run
    if state.current_count == 0:
        return None, StreamState(value, 1, cap)
    if value == state.current_val:
        if state.current_count + 1 > cap:
            return (cap, state.current_val), StreamState(value, 1, cap)
        return None, StreamState(value, state.current_count + 1, cap)
    return (state.current_count, state.current_val), StreamState(value, 1, cap)


def stream_flush(state: StreamState) -> tuple[int, int] | None:
    """``stream_flush`` (v:4458-4462): emit the pending run if any."""
    if state.current_count == 0:
        return None
    return (state.current_count, state.current_val)


def stream_encode_list(state: StreamState, a) -> tuple[tuple[np.ndarray, np.ndarray], StreamState]:
    """``stream_encode_list`` (v:4464-4474) — vectorized chunk form.

    Encodes one chunk with the batch kernel and stitches the carried run across
    the chunk seam, justified by ``stream_eq_batch`` (v:4695-4715) and
    ``streaming_safe_append`` (v:1011-1021): only the seam pair can interact.
    Returns the completed runs emitted by this chunk plus the new carry state.
    """
    arr = _as_1d(a)
    cap = state.max_run
    if arr.size == 0:
        return (_EMPTY_I64.copy(), arr[:0].copy()), state
    counts, values = rle_encode(arr)
    carry_count = state.current_count
    prefix: list[tuple[int, int]] = []
    if carry_count > 0:
        if int(values[0]) == state.current_val:
            total = carry_count + int(counts[0])
            # greedy cap-splitting of the merged seam run, matching aux_maxrun
            while total > cap:
                prefix.append((cap, state.current_val))
                total -= cap
            counts = counts.copy()
            counts[0] = total
            if counts[0] == 0:
                counts, values = counts[1:], values[1:]
        else:
            prefix.append((carry_count, state.current_val))
    # cap-split the chunk's own runs
    if counts.size:
        counts, values = maxrun_split(counts, values, cap)
    # the final run stays in the carry state (it may extend into the next chunk)
    if counts.size:
        new_state = StreamState(int(values[-1]), int(counts[-1]), cap)
        counts, values = counts[:-1], values[:-1]
    else:
        new_state = StreamState(state.current_val, 0, cap) if not prefix else StreamState(
            prefix[-1][1], 0, cap
        )
        # if everything merged into prefix, reopen the last prefix run as carry
        if prefix:
            last = prefix.pop()
            new_state = StreamState(last[1], last[0], cap)
    if prefix:
        pc = np.array([c for c, _ in prefix], dtype=np.int64)
        pv = np.array([v for _, v in prefix], dtype=values.dtype if values.size else np.int64)
        counts = np.concatenate((pc, counts))
        values = np.concatenate((pv, values))
    return (counts, values), new_state


def stream_complete_encode(cap: int, chunks) -> tuple[np.ndarray, np.ndarray]:
    """``stream_complete_encode`` (v:4544-4549): fold chunks, then flush.

    ``chunks`` is an iterable of 1-D arrays (Arrow batches of one logical
    sequence).  Equivalent to ``rle_encode_maxrun(cap, concat(chunks))`` by
    ``stream_eq_batch`` (v:4695-4715) — the property suite checks this for
    random chunkings.
    """
    state = init_stream_state(cap)
    parts_c: list[np.ndarray] = []
    parts_v: list[np.ndarray] = []
    dtype = None
    for chunk in chunks:
        arr = _as_1d(chunk)
        if dtype is None and arr.size:
            dtype = arr.dtype
        (c, v), state = stream_encode_list(state, arr)
        if c.size:
            parts_c.append(c)
            parts_v.append(v)
    tail = stream_flush(state)
    if tail is not None:
        parts_c.append(np.array([tail[0]], dtype=np.int64))
        parts_v.append(np.array([tail[1]], dtype=dtype if dtype is not None else np.int64))
    if not parts_c:
        return _EMPTY_I64.copy(), np.empty(0, dtype=dtype if dtype is not None else np.int64)
    return np.concatenate(parts_c), np.concatenate(parts_v)


# ---------------------------------------------------------------------------
# Streaming decoder (reference model, v:4952-4992) — vectorized equivalent is
# just rle_decode (licensed by ``streaming_decoder_equivalent``, v:5214-5222).
# ---------------------------------------------------------------------------


def stream_decode(counts, values, budget: int | None = None) -> np.ndarray | None:
    """Streaming decode collapsed to the batch kernel.

    ``stream_decode_list`` with sufficient fuel equals batch decode
    (``stream_decode_complete`` v:5200-5211, ``streaming_decoder_equivalent``
    v:5214-5222), and zero-count runs are skipped (v:4960-4976) — so sanitize +
    repeat.  With a budget this is ``stream_pull_safe`` (v:5234-5241).
    """
    counts, values = sanitize_runs(counts, values)
    if budget is not None and compute_decode_size(counts) > budget:
        return None
    return rle_decode(counts, values)


# ---------------------------------------------------------------------------
# Per-element streaming decoder reference models (v:4952-4992, 5234-5241).
# The engine never runs these per element — ``streaming_decoder_equivalent``
# (v:5214-5222) licenses the vectorized ``stream_decode`` — they exist so the
# equivalence is testable against the exact reference semantics.
# ---------------------------------------------------------------------------


@dataclass
class DecodeStreamState:
    """``decode_stream_state`` (v:4952-4955): (remaining_count, current_val)."""

    remaining_count: int = 0
    current_decode_val: int = 0


def init_decode_state() -> DecodeStreamState:
    """``init_decode_state`` (v:4957-4958)."""
    return DecodeStreamState(0, 0)


def stream_pull(state: DecodeStreamState, runs: list[tuple[int, int]]):
    """``stream_pull`` (v:4960-4976): emit <= 1 value per pull; skip
    zero-count runs.  Returns (vals, new_state, remaining_runs)."""
    if state.remaining_count == 0:
        if not runs:
            return [], state, []
        (count, val), rest = runs[0], runs[1:]
        if count == 0:
            return [], state, rest
        return [val], DecodeStreamState(count - 1, val), rest
    return (
        [state.current_decode_val],
        DecodeStreamState(state.remaining_count - 1, state.current_decode_val),
        runs,
    )


def stream_decode_list(fuel: int, state: DecodeStreamState, runs) -> list[int]:
    """``stream_decode_list`` (v:4978-4992): fuel-bounded pull loop.  Fuel of
    Σcounts + #runs suffices (``stream_decode_complete``, v:5200-5211)."""
    runs = list(runs)
    out: list[int] = []
    while fuel > 0:
        fuel -= 1
        vals, state, runs = stream_pull(state, runs)
        if not vals and not runs:
            break
        out.extend(vals)
    return out


def stream_pull_safe(state: DecodeStreamState, runs, budget: int):
    """``stream_pull_safe`` (v:5234-5241): pull under a decrementing budget."""
    vals, new_state, new_runs = stream_pull(state, list(runs))
    cost = len(vals)
    if cost <= budget:
        return vals, new_state, new_runs, budget - cost
    return None


# ---------------------------------------------------------------------------
# Predicates and analysis helpers named by the inventory (SURVEY §2.2/2.3/2.8)
# ---------------------------------------------------------------------------


def bounded_list(bound: int, a) -> bool:
    """``bounded_list`` (v:3818-3819): every element < bound."""
    arr = _as_1d(a)
    return arr.size == 0 or bool((arr < bound).all() and (arr >= 0).all())


def runs_fit_width(max_count: int, counts) -> bool:
    """``runs_fit_width`` (v:5300-5301): every run count <= max_count."""
    counts = _as_1d(counts)
    return counts.size == 0 or int(counts.max()) <= max_count


def is_strictly_wf_capped(counts, values, cap: int) -> bool:
    """``strictly_well_formed_capped`` (v:4272-4276): capped-WF and every
    at-cap run is followed by a different value (or is last) — together with
    capped-WF this forbids any adjacent equal values."""
    counts = _as_1d(counts)
    values = _as_1d(values)
    if not is_wf_capped(counts, values, cap):
        return False
    if counts.size < 2:
        return True
    at_cap = counts[:-1] == cap
    eq_next = values[1:] == values[:-1]
    return bool((~(at_cap & eq_next)).all())


def run_frequency(count: int, val: int, counts, values) -> int:
    """``run_frequency`` (v:3032-3033): occurrences of the run (count, val)."""
    counts = _as_1d(counts)
    values = _as_1d(values)
    return int(((counts == count) & (values == val)).sum())


# ---------------------------------------------------------------------------
# Toy unary serialization (v:5246-5279) — kept for inventory parity; the real
# engine wire format is rlv/blocks.py.
# ---------------------------------------------------------------------------


def serialize_nat(n: int) -> list[bool]:
    """``serialize_nat`` (v:5249-5253): unary, n times True."""
    return [True] * int(n)


def deserialize_nat(bits) -> int:
    """``deserialize_nat`` (v:5256-5261): count leading Trues."""
    out = 0
    for b in bits:
        if not b:
            break
        out += 1
    return out


def serialize_run(count: int, val: int) -> list[bool]:
    """``serialize_run`` (v:5270-5272): unary count, False, unary val, False."""
    return serialize_nat(count) + [False] + serialize_nat(val) + [False]


def serialize_runs(counts, values) -> list[bool]:
    """``serialize_runs`` (v:5275-5279): concatenation of serialized runs."""
    counts = _as_1d(counts)
    values = _as_1d(values)
    out: list[bool] = []
    for c, v in zip(counts.tolist(), values.tolist()):
        out.extend(serialize_run(c, v))
    return out


def deserialize_runs(bits) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``serialize_runs`` — our extension (the reference defines
    only the encode direction, SURVEY §1.1); needed to test the roundtrip."""
    counts: list[int] = []
    values: list[int] = []
    cur = 0
    fields: list[int] = []
    for b in bits:
        if b:
            cur += 1
        else:
            fields.append(cur)
            cur = 0
    if len(fields) % 2:
        raise ValueError("truncated unary run stream")
    for i in range(0, len(fields), 2):
        counts.append(fields[i])
        values.append(fields[i + 1])
    return np.asarray(counts, dtype=np.int64), np.asarray(values, dtype=np.int64)


# ---------------------------------------------------------------------------
# Run decomposition (v:866-951)
# ---------------------------------------------------------------------------


def split_run(a) -> tuple[np.ndarray, np.ndarray]:
    """``split_run`` (v:866-875): peel the maximal leading run."""
    arr = _as_1d(a)
    if arr.size == 0:
        return arr[:0].copy(), arr[:0].copy()
    neq = np.flatnonzero(arr != arr[0])
    cut = int(neq[0]) if neq.size else arr.size
    return arr[:cut], arr[cut:]


def decompose_runs(a) -> list[np.ndarray]:
    """``decompose_runs`` (v:877-890): list of maximal runs; flatten∘decompose = id
    (``decompose_flatten``, v:946-951)."""
    arr = _as_1d(a)
    if arr.size == 0:
        return []
    boundaries = np.flatnonzero(arr[1:] != arr[:-1]) + 1
    return np.split(arr, boundaries)


def flatten_runs(runs) -> np.ndarray:
    """``flatten_runs`` (v:908-912): concatenation."""
    runs = list(runs)
    if not runs:
        return _EMPTY_I64.copy()
    return np.concatenate([_as_1d(r) for r in runs])


def is_run(a) -> bool:
    """``is_run`` (v:860-864): nonempty and all elements equal the head."""
    arr = _as_1d(a)
    return arr.size > 0 and bool((arr == arr[0]).all())
