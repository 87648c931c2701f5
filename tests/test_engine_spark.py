"""Token-plane engine tests (SURVEY.md §5.2): every block the files plane
writes equals the scalar selector's, a crashed encode resumes exactly the
missing splits byte-identically, the decode pass guards sizes, and the
DataFrame passes and batch kernels of rlv.engine match their references."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rlv import engine, engine_files, tokens


@pytest.fixture(scope="module")
def enc_dir(spark, tok_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc") / "enc")
    engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=4)
    return out


def _blocks_by_doc(out: str) -> dict[str, tuple[int, bytes]]:
    tbl = pq.read_table(f"{out}/blocks", columns=["doc_id", "codec_id", "block"])
    return {
        d: (c, b)
        for d, c, b in zip(*(tbl.column(k).to_pylist() for k in tbl.column_names))
    }


def test_encoded_blocks_match_local_kernels(tok_dir, enc_dir):
    """Every doc's (codec_id, block) in the files-plane dataset equals the
    scalar reference selector's on its tokens — the batch kernels and Spark
    add distribution, never change semantics."""
    from rlv.selector import encode_auto

    got = _blocks_by_doc(enc_dir)
    src = pq.read_table(tok_dir, columns=["doc_id", "tokens"])
    docs = src.column("doc_id").to_pylist()
    assert sorted(got) == sorted(docs)
    for doc_id, toks in zip(docs, src.column("tokens").to_pylist()):
        a = np.asarray(toks, dtype=np.int32)
        codec, block = encode_auto(a)
        want = (codec, block) if a.size else (0, b"")
        assert got[doc_id] == want, doc_id


def test_partial_manifest_resume(spark, tok_dir, tmp_path):
    """Simulate a crash after half the splits committed: the manifest keeps
    half of its rows and the other half's blocks files are gone.  Resume
    re-encodes exactly the missing splits, leaves the kept files untouched,
    and the re-encoded blocks are byte-identical (determinism law,
    rl_encoding.v:1524-1538)."""
    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    full = _blocks_by_doc(out)
    pdf = engine_files._read_manifest_pdf(out).sort_values("split_id")
    assert len(pdf) >= 2
    for r in pdf.to_dict("records"):
        assert r["status"] == "done" and r["attempt"] == 1
        assert r["bytes_out"] <= r["naive_rle_bytes"]
        assert sum(json.loads(r["codec_hist"]).values()) == r["n_docs"]
        assert r["tokens_per_cpu_sec"] > 0
    half = len(pdf) // 2
    kept, lost = pdf.iloc[:half], pdf.iloc[half:]
    engine_files._write_manifest_pdf(out, kept)
    for sid in lost["split_id"]:
        os.remove(f"{out}/blocks/{sid}.parquet")
    kept_mtimes = {
        sid: os.stat(f"{out}/blocks/{sid}.parquet").st_mtime_ns
        for sid in kept["split_id"]
    }
    second = engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    assert second["splits_encoded"] == len(lost)
    assert second["splits_skipped"] == len(kept)
    assert {
        sid: os.stat(f"{out}/blocks/{sid}.parquet").st_mtime_ns
        for sid in kept["split_id"]
    } == kept_mtimes
    after = engine_files._read_manifest_pdf(out)
    assert sorted(after["split_id"]) == sorted(pdf["split_id"])
    assert (after["attempt"] == 1).all()
    assert _blocks_by_doc(out) == full


def test_tokens_from_documents(spark):
    df = tokens.tokens_from_documents(spark, "/root/testdata/sf0.001")
    row = df.first()
    assert row["n_tok"] == len(row["tokens"])
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    text = docs.filter(F.col("doc_id") == row["doc_id"]).first()["text"]
    assert [ord(c) for c in text] == list(row["tokens"])


def test_encode_chunked_sequences_equals_batch(spark):
    """stream_eq_batch (rl_encoding.v:4695-4715) distributed: sequences split
    into arbitrary row-chunks encode to the same blocks as whole arrays,
    including seams where equal values straddle chunk boundaries.  Building
    the grouped map must not warn: pyspark reads the eval type from the
    function's type hints, and a half-annotated function warns on every
    call."""
    import warnings

    import numpy as np
    from rlv import blocks as B
    from rlv.kernels import rle

    rng = np.random.default_rng(7)
    docs = {}
    rows = []
    for i in range(40):
        n = int(rng.integers(0, 400))
        a = np.repeat(rng.integers(0, 5, size=max(n // 7, 1)),
                      rng.integers(1, 9, size=max(n // 7, 1)))[:n].astype(np.int64)
        docs[f"d{i}"] = a
        cuts = sorted(rng.integers(0, max(a.size, 1), size=int(rng.integers(0, 4))))
        for j, chunk in enumerate(np.split(a, cuts)):
            rows.append((f"d{i}", j, [int(x) for x in chunk]))
    df = spark.createDataFrame(rows, schema="doc_id string, chunk_idx int, tokens array<long>")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        encoded = engine.encode_chunked_sequences(df)
    assert not [w for w in caught
                if "Cannot infer the eval type" in str(w.message)], caught
    out = {r["doc_id"]: r for r in encoded.collect()}
    assert set(out) == set(docs)
    for did, a in docs.items():
        r = out[did]
        assert r["n_tok"] == a.size
        if a.size:
            c, v = rle.rle_encode(a)
            assert bytes(r["block"]) == B.encode_rle_runs(c, v)
            np.testing.assert_array_equal(
                B.decode_block(bytes(r["block"]), np.int64), a
            )
        else:
            assert bytes(r["block"]) == b""


def test_decode_size_guard_catches_corruption(spark, enc_dir):
    """safe_decode_with_limit semantics (rl_encoding.v:5034-5069) in the read
    path: a block whose decoded size disagrees with n_tok fails loudly."""
    encoded = spark.read.parquet(f"{enc_dir}/blocks")
    corrupted = encoded.withColumn(
        "n_tok", F.when(F.col("n_tok") > 0, F.col("n_tok") + 1).otherwise(0)
    )
    with pytest.raises(Exception, match="corrupt block|declared n_tok"):
        engine.decode_pass(corrupted).collect()
    # and the honest table still decodes
    assert engine.decode_pass(encoded).count() == encoded.count()


def test_batch_stats_with_trailing_empty_docs():
    """Segmented per-doc reductions must not truncate the last nonempty
    doc's segment when a batch ends with empty docs (review r3: the clamped
    reduceat dropped the final run/diff, mis-sizing blocks and crashing the
    bit packer).  Batch results must equal the scalar path exactly."""
    import numpy as np
    import pyarrow as pa

    from rlv import blocks as B
    from rlv import selector
    from rlv.engine import _batch_doc_stats, _encode_arrow_batches
    from rlv.stats import chunk_stats

    cases = [
        [[1, 1, 2, 2, 9], []],                      # max in the final run
        [[0, 1, 2, 3, 4, 5, 6, 7, 1000000], []],    # max delta at the end
        [[], [5, 5, 5], [], []],
        [[3], [], [7, 100000], []],
    ]
    for docs in cases:
        offs = np.zeros(len(docs) + 1, np.int64)
        np.cumsum([len(d) for d in docs], out=offs[1:])
        a = (
            np.concatenate([np.asarray(d, np.int32) for d in docs])
            if any(len(d) for d in docs)
            else np.empty(0, np.int32)
        )
        r = _batch_doc_stats(a, offs)
        minv, maxv, max_zz = r[4], r[5], r[12]
        for i, d in enumerate(docs):
            s = chunk_stats(np.asarray(d, np.int64))
            assert (minv[i], maxv[i], max_zz[i]) == (
                s.min_val, s.max_val, s.max_zz_delta
            ), (docs, i)
        tb = pa.table(
            {
                "doc_id": [str(i) for i in range(len(docs))],
                "source": ["s"] * len(docs),
                "tokens": pa.array(docs, pa.list_(pa.int32())),
                "n_tok": pa.array([len(d) for d in docs], pa.int32()),
            }
        )
        out = []
        for b in tb.to_batches():
            out.extend(_encode_arrow_batches(iter([b])))
        blobs = pa.Table.from_batches(out).column("block").to_pylist()
        for i, d in enumerate(docs):
            assert blobs[i] == selector.encode_auto(np.asarray(d, np.int64))[1]
