"""Structured Streaming ingest: new files are encoded incrementally with
exactly-once output, and the result is byte-identical to a batch encode."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from rlv import engine_files, streaming, tokens


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    d = str(base / "landing")
    df = tokens.synth_tokens(spark, n_rows=300, seed=7)
    df.repartition(3).write.mode("overwrite").parquet(str(base / "all"))
    import glob
    import os

    os.makedirs(d)
    files = sorted(glob.glob(str(base / "all") + "/part-*.parquet"))
    assert len(files) == 3
    return d, files


def test_stream_encodes_arriving_files(spark, landing, tmp_path):
    d, files = landing
    out = str(tmp_path / "enc")
    # first arrival: two files
    shutil.copy(files[0], d)
    shutil.copy(files[1], d)
    streaming.encode_stream(spark, d, out)
    m1 = engine_files._read_manifest_pdf(out)
    docs1 = int(m1["n_docs"].sum())
    assert docs1 > 0

    # second arrival: one more file; only its splits are newly encoded
    shutil.copy(files[2], d)
    streaming.encode_stream(spark, d, out)
    m2 = engine_files._read_manifest_pdf(out)
    assert int(m2["n_docs"].sum()) > docs1
    assert (m2["attempt"] == 1).all()  # nothing was re-encoded

    # full verify over everything ingested so far: bit-identical
    res = engine_files.verify_files_dataset(spark, d, out)
    assert res["mismatches"] == 0
    assert res["docs"] == int(m2["n_docs"].sum())

    # equivalence with a one-shot batch encode of the same directory
    out_batch = str(tmp_path / "batch")
    engine_files.encode_files_dataset(spark, d, out_batch, num_tasks=4)
    stream_blocks = {
        r["doc_id"]: bytes(r["block"])
        for r in spark.read.parquet(f"{out}/blocks").select("doc_id", "block").collect()
    }
    batch_blocks = {
        r["doc_id"]: bytes(r["block"])
        for r in spark.read.parquet(f"{out_batch}/blocks")
        .select("doc_id", "block").collect()
    }
    assert stream_blocks == batch_blocks


def test_stream_restart_is_idempotent(spark, landing, tmp_path):
    d, files = landing
    import os

    for f in files:  # self-sufficient: don't depend on the prior test's copies
        if not os.path.exists(os.path.join(d, os.path.basename(f))):
            shutil.copy(f, d)
    out = str(tmp_path / "enc2")
    streaming.encode_stream(spark, d, out)
    m1 = engine_files._read_manifest_pdf(out).sort_values("split_id")
    # re-run with a FRESH checkpoint: streaming re-delivers every file, but
    # the split manifest skips all done work (and a replay would rewrite
    # byte-identical blocks anyway)
    streaming.encode_stream(
        spark, d, out, checkpoint_dir=str(tmp_path / "cp2")
    )
    m2 = engine_files._read_manifest_pdf(out).sort_values("split_id")
    assert (m2["attempt"] == 1).all()
    assert list(m1["split_id"]) == list(m2["split_id"])


def test_stream_starts_on_empty_dir_with_schema(spark, tmp_path):
    """A continuous ingest service starts BEFORE the first file arrives:
    schema= makes that work; without it the failure is a clear ValueError."""
    import os

    empty = str(tmp_path / "empty_landing")
    os.makedirs(empty)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="schema"):
        streaming.encode_stream(spark, empty, out)
    q = streaming.encode_stream(
        spark, empty, out,
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert q is not None  # availableNow over zero files terminates cleanly


def test_chunked_runs_stream_matches_batch_decomposition(spark, tmp_path):
    """The stateful streaming encoder (applyInPandasWithState): chunks arrive
    across THREE micro-batches (one file each, forced by mtime +
    maxFilesPerTrigger=1); the emitted run stream must equal the batch run
    decomposition (stream_eq_batch, rl_encoding.v:4695-4715), including runs
    that span chunk AND batch boundaries."""
    import glob
    import os
    import shutil
    import time

    docs = {
        "a": [1, 1, 1, 2, 2, 3, 3, 3, 3, 3, 3, 4, 4],  # seam merges
        "b": [7] * 10,                                  # one run, all chunks
        "c": [],                                        # empty doc
        "d": [1, 2, 1, 2, 1],                           # alternating
    }
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for ci in range(3):
        rows = []
        for did, toks in docs.items():
            per = (len(toks) + 2) // 3
            chunk = toks[ci * per:(ci + 1) * per]
            rows.append((did, ci, 1 if ci == 2 else 0, chunk))
        stage = str(tmp_path / f"stage{ci}")
        spark.createDataFrame(
            rows, schema=streaming.CHUNK_STREAM_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = os.path.join(in_dir, f"chunk{ci}.parquet")
        shutil.copy(part, dst)
        t = time.time() + 10 * ci  # strict modTime order => batch order
        os.utime(dst, (t, t))
    out = str(tmp_path / "out")
    streaming.chunked_runs_stream(spark, in_dir, out, max_files_per_trigger=1)
    got = {
        (r["doc_id"], r["run_idx"]): (r["run_count"], r["run_value"])
        for r in spark.read.parquet(f"{out}/runs").collect()
    }
    from rlv import engine

    full = spark.createDataFrame(
        [(d, t, len(t), "s") for d, t in docs.items()],
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
    want = {
        (r["doc_id"], r["run_idx"]): (r["run_count"], r["run_value"])
        for r in engine.runs_pass(full).collect()
    }
    assert got == want


def test_chunked_runs_stream_rejects_out_of_order(spark, tmp_path):
    """A chunk gap must fail the stream (wrong decompositions are never
    emitted), not silently reorder."""
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [("x", 0, 0, [1, 1]), ("x", 2, 1, [2, 2])],
        schema=streaming.CHUNK_STREAM_SCHEMA,
    ).write.mode("overwrite").parquet(in_dir)
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="chunk"):
        streaming.chunked_runs_stream(spark, in_dir, out)


def test_windowed_stream_watermark_closes_and_drops_late(spark, tmp_path):
    """Structured Streaming windowed aggregation with a watermark: closed
    windows emit once the watermark passes them; a late event arriving after
    its window closed is dropped, not double-counted."""
    import datetime as dt
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(h, m):
        return (base + dt.timedelta(hours=h, minutes=m),)

    # batch 1: hours 0-2; the 02:30 event drives the watermark to 02:20,
    # closing the hour-0/1 windows during batch 2
    f1 = [ev(0, 5), ev(0, 20), ev(0, 40), ev(1, 10), ev(1, 50), ev(2, 30)]
    # batch 2: hour-3 events (hour-0/1 emit here)
    f2 = [ev(3, 0), ev(3, 5)]
    # batch 3: a LATE hour-0 event arriving AFTER its window closed (must be
    # dropped, not re-emitted) + an hour-4 event that closes hour-2
    f3 = [ev(0, 59), ev(4, 0)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, rows in enumerate((f1, f2, f3)):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "ts timestamp").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        dst = os.path.join(in_dir, f"f{i}.parquet")
        shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], dst)
        t = time.time() + 10 * i
        os.utime(dst, (t, t))
    out = str(tmp_path / "out")
    q = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["w"]["start"].hour, r["n"])
        for r in spark.read.parquet(out).collect()
    )
    # only watermark-closed windows emitted, exactly once each; the late
    # 00:59 event was dropped (hour 0 stays 3, no duplicate row); the still
    # -open hour-3/4 windows never emitted
    assert got == [(0, 3), (1, 2), (2, 1)]


def test_chunked_runs_stream_restart_is_exactly_once(spark, tmp_path):
    """Restarting the stateful run-encoder stream over the same checkpoint
    emits nothing new (file->batch assignment is checkpointed; the parquet
    sink's own log makes replays exactly-once)."""
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [("a", 0, 0, [1, 1, 2]), ("a", 1, 1, [2, 3]), ("b", 0, 1, [9])],
        schema=streaming.CHUNK_STREAM_SCHEMA,
    ).write.mode("overwrite").parquet(in_dir)
    out = str(tmp_path / "out")
    streaming.chunked_runs_stream(spark, in_dir, out)
    first = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/runs").collect()
    )
    assert len(first) == 4  # a: (2,1),(2,2)->merged... runs: 1x2,2x2,3x1 + b: 9x1
    streaming.chunked_runs_stream(spark, in_dir, out)  # same checkpoint, no new files
    again = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/runs").collect()
    )
    assert again == first


def test_table_encode_stream_two_arrivals_and_restart(spark, tmp_path):
    """Table-plane streaming ingest: an orders-shaped table streams into a
    rlv.table_files dataset across two arrivals; a restart (fresh checkpoint,
    same out_dir) re-encodes nothing thanks to the split manifest; the final
    dataset verifies bit-identical against its lineage."""
    import glob
    import os
    import shutil as sh

    from rlv import table_files

    base = tmp_path / "tstream"
    all_dir = str(base / "all")
    (
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(all_dir)
    )
    files = sorted(glob.glob(f"{all_dir}/part-*.parquet"))
    assert len(files) == 3
    d = str(base / "landing")
    os.makedirs(d)
    out = str(base / "enc")
    kw = dict(
        order_col="o_orderkey",
        int_cols=["o_orderkey", "o_custkey"],
        str_cols=["o_orderstatus"],
        rows_per_block=2048,
    )

    # first arrival
    sh.copy(files[0], d)
    sh.copy(files[1], d)
    streaming.table_encode_stream(spark, d, out, **kw)
    m1 = engine_files._read_manifest_pdf(out)
    rows1 = int(m1["n_docs"].sum())
    assert rows1 > 0

    # second arrival: only the new file's splits are encoded
    sh.copy(files[2], d)
    streaming.table_encode_stream(spark, d, out, **kw)
    m2 = engine_files._read_manifest_pdf(out)
    assert int(m2["n_docs"].sum()) > rows1
    assert (m2["attempt"] == 1).all()  # nothing re-encoded

    # restart drill: wipe the CHECKPOINT (not the dataset) -> the stream
    # replays every file, the manifest skips them all
    sh.rmtree(f"{out}/_table_stream_checkpoint")
    streaming.table_encode_stream(spark, d, out, **kw)
    m3 = engine_files._read_manifest_pdf(out)
    assert (m3["attempt"] == 1).all()
    assert int(m3["n_docs"].sum()) == int(m2["n_docs"].sum())

    # end state verifies bit-identical against recorded lineage
    v = table_files.verify_table_files(spark, out)
    assert v["mismatches"] == 0
    assert v["rows"] == spark.read.parquet(d).count()

    # a restart with DIFFERENT columns must fail loudly, not corrupt
    bad_kw = dict(kw)
    bad_kw["str_cols"] = []
    sh.rmtree(f"{out}/_table_stream_checkpoint")
    with pytest.raises(Exception, match="different table schema"):
        streaming.table_encode_stream(spark, d, out, **bad_kw)


def test_table_stream_typed_and_decimal_columns(spark, tmp_path):
    """Streaming table ingest with typed + decimal-declared columns: the
    timestamp rides the epoch plane, the currency double the scaled-int
    plane (pinned by the recorded schema — a restart redeclaring a
    different scale fails loudly), verify is green, and the decimal sum
    pushes down exactly."""
    import glob
    import os
    import shutil as sh
    from decimal import Decimal

    import duckdb

    from rlv import table_files

    base = tmp_path / "tstream_typed"
    all_dir = str(base / "all")
    (
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(all_dir)
    )
    files = sorted(glob.glob(f"{all_dir}/part-*.parquet"))
    d = str(base / "landing")
    os.makedirs(d)
    for f in files:
        sh.copy(f, d)
    out = str(base / "enc")
    kw = dict(
        order_col="o_orderkey",
        int_cols=["o_orderkey", "o_orderdate", "o_totalprice"],
        rows_per_block=2048,
        decimal_cols={"o_totalprice": 2},
    )
    streaming.table_encode_stream(spark, d, out, **kw)
    assert table_files._load_table_schema(out)["int_col_types"][
        "o_totalprice"] == "dec2:double"
    assert table_files.verify_table_files(spark, out)["mismatches"] == 0
    [r] = table_files.agg_table_files_where(
        spark, out, "o_totalprice", [("between", "o_orderkey", 1, 10 ** 9)]
    ).collect()
    [w] = duckdb.sql(
        "SELECT CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS "
        f"DECIMAL(38,2))/100 FROM read_parquet('{d}/*.parquet') "
        "WHERE o_orderkey BETWEEN 1 AND 1000000000"
    ).fetchall()
    assert Decimal(str(r.sum_val)) == Decimal(str(w[0]))
    # a restart redeclaring a different scale is a schema change: refused
    sh.rmtree(f"{out}/_table_stream_checkpoint")
    bad = dict(kw)
    bad["decimal_cols"] = {"o_totalprice": 3}
    with pytest.raises(Exception, match="different table schema"):
        streaming.table_encode_stream(spark, d, out, **bad)


def test_stream_split_target_pinned_to_dataset(spark, landing, tmp_path):
    """Restarting a stream with a different split_target_bytes would cut
    different split boundaries for replayed files and double-encode — the
    dataset records the value and a mismatched restart fails loudly."""
    d, files = landing
    import os

    for f in files:
        if not os.path.exists(os.path.join(d, os.path.basename(f))):
            shutil.copy(f, d)
    out = str(tmp_path / "enc_tgt")
    streaming.encode_stream(spark, d, out)
    with pytest.raises(ValueError, match="split_target_bytes"):
        streaming.encode_stream(
            spark, d, out, checkpoint_dir=str(tmp_path / "cp_tgt"),
            split_target_bytes=32 * 1024 * 1024,
        )
