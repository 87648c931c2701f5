"""Structured Streaming ingest: encode token files as they arrive.

The reference's "streaming" is an incremental *chunk* API (SURVEY.md §2.6-2.7,
implemented in ``rlv.kernels.rle.stream_*`` and
``rlv.engine.encode_chunked_sequences``); nothing in the spec is event-timed.
This module adds the orthogonal production concern: a landing directory where
token parquet files keep arriving, encoded continuously with exactly-once
accounting.

Design: ``readStream`` file source discovers new files; ``foreachBatch``
routes each micro-batch back into the python-native data plane — the batch's
*file list* (from ``input_file_name``) is re-planned into row-group splits and
encoded by :func:`rlv.engine_files.encode_splits`.  Idempotency is layered:

* Spark's streaming checkpoint makes file->batch assignment exactly-once;
* the split manifest skips already-done splits on reprocessing;
* blocks are byte-deterministic (rl_encoding.v:1524-1538), so even a replayed
  split rewrites identical bytes — at-least-once execution yields
  exactly-once output.

At 10^12-sequence scale this is the continuous-ingest mode: the micro-batch
plan is metadata-only (footers of the new files), and the encode itself stays
zero-shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rlv import engine_files

# chunked-sequence stream: ordered chunks of each logical doc arrive over
# time; is_last marks the doc's final chunk
CHUNK_STREAM_SCHEMA = "doc_id string, chunk_idx int, is_last int, tokens array<int>"
RUNS_OUT_SCHEMA = "doc_id string, run_idx int, run_count bigint, run_value int"
# O(1) per-doc state — exactly the reference streaming encoder's
# (rl_encoding.v:4717-4731, streaming_uses_constant_space): the open run +
# progress counters; completed runs are EMITTED, never held
_CHUNK_STATE_SCHEMA = (
    "next_chunk int, run_count bigint, run_value int, runs_emitted int, "
    "has_open int"
)


def _chunk_state_fold(key, pdf_iter, state):
    """applyInPandasWithState fold: stitch each arriving chunk onto the open
    run (``stream_push``/``streaming_safe_append`` semantics,
    rl_encoding.v:4789-4797 amortized-cost story), emit every run that
    CLOSES, carry only the open one.  Chunks must arrive in order
    (chunk_idx contiguous from the state's next_chunk) — a gap raises rather
    than emitting a wrong decomposition.  On is_last the trailing run is
    flushed and the state removed, so state size tracks live (unfinished)
    docs only."""
    import numpy as np
    import pandas as pd

    from rlv.kernels import rle

    doc_id = key[0]
    if state.exists:
        next_chunk, c_count, c_value, emitted, has_open = state.get
    else:
        next_chunk, c_count, c_value, emitted, has_open = 0, 0, 0, 0, 0
    out_counts: list[int] = []
    out_values: list[int] = []
    finished = False
    chunks = pd.concat(list(pdf_iter)).sort_values("chunk_idx")
    for _, row in chunks.iterrows():
        if int(row["chunk_idx"]) != next_chunk:
            raise ValueError(
                f"doc {doc_id}: chunk {int(row['chunk_idx'])} arrived but "
                f"chunk {next_chunk} is next — the chunk stream must be "
                "delivered in order"
            )
        next_chunk += 1
        if int(row["is_last"]):
            finished = True
        a = np.asarray(row["tokens"], dtype=np.int64)
        if a.size == 0:
            continue
        counts, values = rle.rle_encode(a)
        if has_open and int(values[0]) == c_value:
            counts = counts.copy()
            counts[0] += c_count
        elif has_open:
            out_counts.append(c_count)
            out_values.append(c_value)
        # all but the chunk's final run are closed by construction
        out_counts.extend(int(c) for c in counts[:-1])
        out_values.extend(int(v) for v in values[:-1])
        c_count, c_value, has_open = int(counts[-1]), int(values[-1]), 1
    if finished:
        if has_open:
            out_counts.append(c_count)
            out_values.append(c_value)
        state.remove()
    else:
        state.update((next_chunk, c_count, c_value, emitted + len(out_counts), has_open))
    n = len(out_counts)
    yield pd.DataFrame(
        {
            "doc_id": pd.Series([doc_id] * n, dtype="str"),
            "run_idx": pd.Series(range(emitted, emitted + n), dtype="int32"),
            "run_count": pd.Series(out_counts, dtype="int64"),
            "run_value": pd.Series(out_values, dtype="int32"),
        }
    )


def chunked_runs_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming run decomposition of chunked sequences — the reference's
    incremental encoder (SURVEY §2.6-2.7) as a Structured Streaming stateful
    operator.

    Rows ``(doc_id, chunk_idx, is_last, tokens)`` land in ``input_dir`` over
    any number of micro-batches; the grouped ``applyInPandasWithState`` fold
    keeps 3-ish words of state per live doc and appends completed runs to
    ``out_dir/runs`` as parquet.  The concatenated output per doc equals the
    batch decomposition (``stream_eq_batch``, rl_encoding.v:4695-4715) — the
    property the contract query checks against the run_decompose SQL oracle.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    if checkpoint_dir is None:
        checkpoint_dir = f"{out_dir}/_chunk_checkpoint"
    reader = spark.readStream.schema(CHUNK_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    runs = stream.groupBy("doc_id").applyInPandasWithState(
        _chunk_state_fold,
        RUNS_OUT_SCHEMA,
        _CHUNK_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    writer = (
        runs.writeStream.format("parquet")
        .option("path", f"{out_dir}/runs")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
    return q


def _local_path(uri: str) -> str:
    """file: URI (as produced by input_file_name(), percent-encoded) -> path."""
    from urllib.parse import unquote, urlparse

    if uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return unquote(uri) if "%" in uri else uri


def _check_split_target(out_dir: str, split_target_bytes: int) -> None:
    """Pin the per-file planning granularity to the DATASET: a restart with
    a different ``split_target_bytes`` would cut different split boundaries
    for replayed files, mint new split ids, and double-encode past the
    manifest's resume check — so the first stream records the value and
    every later stream must match it."""
    import json

    mdir = os.path.join(out_dir, "manifest")
    path = os.path.join(mdir, "stream_plan.json")
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
        if int(rec.get("split_target_bytes", -1)) != int(split_target_bytes):
            raise ValueError(
                f"{path} records split_target_bytes="
                f"{rec.get('split_target_bytes')}; restarting with "
                f"{split_target_bytes} would re-plan replayed files into "
                "different splits and double-encode — resume with the "
                "recorded value"
            )
        return
    os.makedirs(mdir, exist_ok=True)
    tmp = path + ".inprogress"
    with open(tmp, "w") as f:
        json.dump({"split_target_bytes": int(split_target_bytes)}, f)
    os.replace(tmp, path)


def _plan_batch_files(files: list[str], split_target_bytes: int) -> list[dict]:
    """Plan a micro-batch's splits PER FILE, never across files.

    A streaming replay (fresh checkpoint, driver failover past the offset
    log) can re-deliver the same files grouped into DIFFERENT micro-batches;
    batch-wide LPT planning would then cut different split boundaries, mint
    new split_ids, and re-encode rows the manifest already holds — duplicate
    data.  Per-file planning makes every split id a pure function of its
    file, so any re-batching replays the identical split set and the
    manifest's resume check dedups it.  The per-file split count is itself
    deterministic (file bytes / ``split_target_bytes``), the per-file
    equivalent of a fixed scan-task size."""
    splits: list[dict] = []
    for f in sorted(files):
        k = max(1, -(-os.path.getsize(f) // split_target_bytes))
        splits.extend(engine_files.plan_splits_for_files([f], k))
    return splits


def _file_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    schema,
    available_now: bool,
    max_files_per_trigger: int | None,
    encode_files,
):
    """The one file-stream driver of both planes: a parquet ``readStream``
    over ``input_dir`` whose ``foreachBatch`` hands each micro-batch's
    source file list (from ``input_file_name``) to ``encode_files``.
    Without ``schema`` it is inferred from the files already present.
    Returns the StreamingQuery, already awaited when ``available_now``."""
    if schema is None:
        try:
            schema = spark.read.parquet(input_dir).schema
        except Exception as e:
            raise ValueError(
                f"cannot infer the stream schema from {input_dir!r} (empty or "
                "unreadable landing directory); pass schema= to start the "
                "stream before the first file arrives"
            ) from e

    def process_batch(batch_df, batch_id: int) -> None:
        files = [
            _local_path(r[0])
            for r in batch_df.select(F.input_file_name()).distinct().collect()
        ]
        files = [f for f in files if f]
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            # the checkpoint is about to mark these consumed; skipping them
            # silently would be permanent data loss, so fail the batch
            raise FileNotFoundError(
                f"stream batch {batch_id} of {input_dir}: source files "
                f"missing: {missing[:3]}"
            )
        if files:
            encode_files(files)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
    return q


def encode_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    schema=None,
    split_target_bytes: int = 16 * 1024 * 1024,
):
    """Start (and, with ``available_now``, run to completion) the streaming
    encode of ``input_dir`` into ``out_dir``.

    ``schema`` (a StructType or DDL string) lets a continuous service start
    on an EMPTY landing directory — the normal deployment order for ingest;
    without it the schema is inferred from files already present, which
    raises if there are none yet.

    Splits are planned PER FILE (``_plan_batch_files``) so replayed files
    produce identical split ids no matter how micro-batches regroup them —
    the manifest layer of the exactly-once story depends on it.
    Parallelism follows the split count (file bytes /
    ``split_target_bytes``).

    Returns the StreamingQuery (already awaited when ``available_now``).
    """
    if checkpoint_dir is None:
        checkpoint_dir = f"{out_dir}/_stream_checkpoint"
    _check_split_target(out_dir, split_target_bytes)

    def encode_files(files: list[str]) -> None:
        splits = _plan_batch_files(files, split_target_bytes)
        engine_files.encode_splits(spark, splits, out_dir, resume=True)

    return _file_stream(
        spark, input_dir, checkpoint_dir, schema, available_now,
        max_files_per_trigger, encode_files,
    )


def table_encode_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    order_col: str,
    int_cols: list[str],
    str_cols: list[str] = (),
    rows_per_block: int = 4096,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    schema=None,
    fsst_symbols: list[bytes] | None = None,
    split_target_bytes: int = 16 * 1024 * 1024,
    decimal_cols: dict | None = None,
    index_cols: list[str] | None = None,
):
    """Continuous ingest for ARBITRARY tables (plain ints, strings,
    timestamps/dates, floats, decimal-declared currency): parquet
    files landing in ``input_dir`` are encoded per column into a
    :mod:`rlv.table_files` dataset as they arrive.

    Same exactly-once layering as :func:`encode_stream` — the streaming
    checkpoint assigns files to micro-batches exactly once, the table
    manifest skips done splits on replay, and blocks are byte-deterministic,
    so at-least-once execution yields exactly-once output.  Splits are
    planned PER FILE (``_plan_batch_files``), which matters MORE here than
    on the token plane: table blocks are cut from a split's sorted row set,
    so batch-composition-dependent split boundaries would not merely mint
    duplicate split ids — they would encode different blocks for the same
    rows.  The recorded ``table_schema.json`` guards against a restart with
    different columns (``encode_table_files``' schema check fails the batch
    loudly).
    """
    from rlv import table_files

    if checkpoint_dir is None:
        checkpoint_dir = f"{out_dir}/_table_stream_checkpoint"
    _check_split_target(out_dir, split_target_bytes)

    def encode_files(files: list[str]) -> None:
        table_files.encode_table_files(
            spark,
            sorted(files),
            out_dir,
            order_col=order_col,
            int_cols=list(int_cols),
            str_cols=list(str_cols),
            rows_per_block=rows_per_block,
            resume=True,
            fsst_symbols=fsst_symbols,
            splits=_plan_batch_files(files, split_target_bytes),
            decimal_cols=decimal_cols,
            index_cols=index_cols,
        )

    return _file_stream(
        spark, input_dir, checkpoint_dir, schema, available_now,
        max_files_per_trigger, encode_files,
    )
