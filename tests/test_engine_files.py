"""File-mode (python-native scan) engine tests: bit-identical roundtrip,
budget, resume, verify, compaction, split planning."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rlv import engine, engine_files, tokens


def _join_verify(tok, encoded) -> dict:
    """An independent check of a blocks relation: decode every block with
    ``engine.decode_pass`` and compare each doc's tokens JVM-side after a
    full join on ``doc_id`` (a doc missing on either side counts as a
    mismatch)."""
    joined = tok.select("doc_id", "tokens").join(
        engine.decode_pass(encoded), "doc_id", "full"
    )
    row = joined.select(
        F.count("*").alias("n"),
        F.sum(
            F.when(
                F.col("tokens").isNull()
                | F.col("decoded").isNull()
                | (F.col("tokens") != F.col("decoded")),
                1,
            ).otherwise(0)
        ).alias("mismatches"),
    ).collect()[0]
    return {"rows": int(row["n"]), "mismatches": int(row["mismatches"] or 0)}


def test_encode_files_roundtrip_and_budget(spark, tok_dir, tmp_path):
    out = str(tmp_path / "enc")
    summary = engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    tok = spark.read.parquet(tok_dir)
    assert summary["tokens"] == tok.agg(F.sum("n_tok")).collect()[0][0]
    assert summary["bytes_out"] <= summary["naive_rle_bytes"]
    encoded = spark.read.parquet(f"{out}/blocks")
    assert encoded.count() == tok.count()
    res = _join_verify(tok, encoded)
    assert res["mismatches"] == 0 and res["rows"] == tok.count()


def test_encode_files_resume(spark, tok_dir, tmp_path):
    out = str(tmp_path / "enc")
    first = engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    assert first["splits_encoded"] > 0
    second = engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    assert second["splits_encoded"] == 0
    assert second["splits_skipped"] == first["splits_encoded"]


def test_file_blocks_match_jvm_blocks(spark, tok_dir, tmp_path):
    """The files plane and the DataFrame pass (Spark reads the tokens and
    feeds ``engine.encode_pass``) produce byte-identical blocks per doc."""
    out_f = str(tmp_path / "f")
    engine_files.encode_files_dataset(spark, tok_dir, out_f, num_tasks=4)
    fb = {
        r["doc_id"]: (r["codec_id"], bytes(r["block"]))
        for r in spark.read.parquet(f"{out_f}/blocks")
        .select("doc_id", "codec_id", "block").collect()
    }
    jb = {
        r["doc_id"]: (r["codec_id"], bytes(r["block"]))
        for r in engine.encode_pass(spark.read.parquet(tok_dir))
        .select("doc_id", "codec_id", "block").collect()
    }
    assert fb and fb == jb


def test_plan_splits_covers_all_row_groups(tok_dir):
    import pyarrow.parquet as pq
    import os

    splits = engine_files.plan_splits(tok_dir, 6)
    seen = [p for s in splits for p in map(tuple, s["pieces"])]
    assert len(seen) == len(set(seen))
    expect = []
    for name in sorted(os.listdir(tok_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(tok_dir, name)
            for rg in range(pq.ParquetFile(path).metadata.num_row_groups):
                expect.append((path, rg))
    assert sorted(seen) == sorted(expect)
    # deterministic split ids
    again = engine_files.plan_splits(tok_dir, 6)
    assert [s["split_id"] for s in splits] == [s["split_id"] for s in again]


def test_sample_pass(spark, tok_dir):
    from rlv.kernels import fsst

    stats = engine_files.sample_pass(spark, tok_dir, every_kth=2, num_tasks=8)
    assert stats["splits_sampled"] >= 1
    assert stats["per_source"]
    for src, s in stats["per_source"].items():
        assert s["n_docs"] > 0
        assert s["min_val"] <= s["max_val"]
    # trained symbol table is usable by the string codec
    syms = [bytes.fromhex(h) for h in stats["fsst_symbols"]]
    st = fsst.SymbolTable(syms)
    assert st.decode(st.encode(b"mixed_runs|low_ndv")) == b"mixed_runs|low_ndv"


def test_verify_files_dataset(spark, tok_dir, tmp_path):
    """Lineage-driven zero-shuffle verify: all splits pass, manifest promoted
    to 'verified', and a corrupted block is detected."""
    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    res = engine_files.verify_files_dataset(spark, tok_dir, out)
    tok = spark.read.parquet(tok_dir)
    assert res["mismatches"] == 0
    assert res["docs"] == tok.count()
    assert res["tokens"] == tok.agg(F.sum("n_tok")).collect()[0][0]
    pdf = engine_files._read_manifest_pdf(out)
    assert (pdf["status"] == "verified").all()
    # verified splits still count as done for resume
    again = engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    assert again["splits_encoded"] == 0

    # corrupt one block file: flip a payload byte in one doc's block
    import glob
    import pyarrow as pa
    import pyarrow.parquet as pq

    victim = sorted(glob.glob(f"{out}/blocks/*.parquet"))[0]
    tbl = pq.read_table(victim)
    blocks_col = tbl.column("block").to_pylist()
    idx = next(i for i, b in enumerate(blocks_col) if len(b) > 4)
    b = bytearray(blocks_col[idx])
    b[-1] ^= 0xFF
    blocks_col[idx] = bytes(b)
    tbl = tbl.set_column(
        tbl.column_names.index("block"), "block", pa.array(blocks_col, pa.binary())
    )
    pq.write_table(tbl, victim, compression="zstd")
    res2 = engine_files.verify_files_dataset(spark, tok_dir, out)
    assert res2["mismatches"] >= 1


def test_count_runs_pass_matches_runs_pass(spark, tok_dir):
    tok = spark.read.parquet(tok_dir)
    direct = {
        r["doc_id"]: r["n_runs"] for r in engine.count_runs_pass(tok).collect()
    }
    via_rows = {
        r["doc_id"]: r["cnt"]
        for r in engine.runs_pass(tok)
        .groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()
    }
    # runs_pass emits no rows for empty docs; count_runs_pass emits 0
    assert {k: v for k, v in direct.items() if v > 0} == via_rows
    assert set(direct) == {r["doc_id"] for r in tok.select("doc_id").collect()}


def test_decode_files_dataset_roundtrip(spark, tok_dir, tmp_path):
    """Export direction: decode_files_dataset reconstructs the token table
    bit-identically (rle_correct, rl_encoding.v:133-144, end to end)."""
    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    restored_dir = str(tmp_path / "restored")
    res = engine_files.decode_files_dataset(spark, out, restored_dir)
    src = spark.read.parquet(tok_dir)
    assert res["docs"] == src.count()
    restored = spark.read.parquet(restored_dir)
    assert restored.count() == src.count()
    joined = src.select("doc_id", "tokens", "source").alias("s").join(
        restored.select("doc_id", "tokens", "source").alias("r"), "doc_id"
    )
    bad = joined.filter(
        (F.col("s.tokens") != F.col("r.tokens"))
        | (F.col("s.source") != F.col("r.source"))
    ).count()
    assert bad == 0


def test_batch_encode_of_an_empty_source_file(spark, tmp_path):
    """A zero-row source file still has one row group, so ``plan_splits``
    gives it a split of its own: the batch encode writes it an empty
    blocks file (a manifest row with ``n_docs == 0``), verify passes and
    decode restores the source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    schema = pa.schema([("doc_id", pa.string()),
                        ("tokens", pa.list_(pa.int32())),
                        ("n_tok", pa.int32()), ("source", pa.string())])
    pq.write_table(schema.empty_table(), src / "a.parquet")
    pq.write_table(pa.table({"doc_id": ["d0", "d1"],
                             "tokens": [[1, 1, 2], [5]], "n_tok": [3, 1],
                             "source": ["x", "y"]}, schema=schema),
                   src / "b.parquet")
    assert pq.ParquetFile(src / "a.parquet").metadata.num_row_groups == 1
    out = str(tmp_path / "enc")
    enc = engine_files.encode_files_dataset(spark, str(src), out,
                                            num_tasks=4)
    assert enc["splits_encoded"] == 2
    man = engine_files._read_manifest_pdf(out)
    assert sorted(man["n_docs"]) == [0, 2]
    ver = engine_files.verify_files_dataset(spark, str(src), out)
    assert ver["mismatches"] == 0 and ver["docs"] == 2
    restored = str(tmp_path / "restored")
    dec = engine_files.decode_files_dataset(spark, out, restored)
    assert dec["files"] == 2 and dec["docs"] == 2
    got = pq.read_table(restored).sort_by("doc_id")
    assert got.select(schema.names).to_pylist() == \
        pq.read_table(src / "b.parquet").to_pylist()


def test_compact_blocks(spark, tok_dir, tmp_path):
    """Compaction regroups files without touching block bytes; resume,
    verify (via merged lineage), and decode all still work."""
    import glob

    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    before = sorted(glob.glob(f"{out}/blocks/*.parquet"))
    assert len(before) >= 4
    pre_blocks = {
        r["doc_id"]: bytes(r["block"])
        for r in spark.read.parquet(f"{out}/blocks").select("doc_id", "block").collect()
    }
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    assert res["files_absorbed"] == len(before)
    after = sorted(glob.glob(f"{out}/blocks/*.parquet"))
    assert len(after) < len(before)
    # block bytes untouched
    post_blocks = {
        r["doc_id"]: bytes(r["block"])
        for r in spark.read.parquet(f"{out}/blocks").select("doc_id", "block").collect()
    }
    assert post_blocks == pre_blocks
    # resume: absorbed splits still count as done
    again = engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    assert again["splits_encoded"] == 0
    # zero-shuffle verify replays the merged lineage
    v = engine_files.verify_files_dataset(spark, tok_dir, out)
    assert v["mismatches"] == 0
    assert v["docs"] == spark.read.parquet(tok_dir).count()
    # decode/export is manifest-driven and sees exactly the live files
    restored = str(tmp_path / "restored")
    d = engine_files.decode_files_dataset(spark, out, restored)
    assert d["docs"] == len(pre_blocks)


def test_compact_crash_between_data_and_manifest(spark, tok_dir, tmp_path, monkeypatch):
    """Crash-safety of the data-before-metadata ordering: a crash after the
    compaction tasks renamed their merged files but BEFORE the manifest flip
    leaves the originals live and the merged files as ignorable orphans; the
    next compaction run completes idempotently and cleans them up."""
    import glob
    import os

    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    originals = sorted(glob.glob(f"{out}/blocks/*.parquet"))
    n_docs = spark.read.parquet(tok_dir).count()

    real_write = engine_files._write_manifest_pdf

    def crash(*a, **k):
        raise RuntimeError("simulated crash before manifest flip")

    monkeypatch.setattr(engine_files, "_write_manifest_pdf", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    monkeypatch.setattr(engine_files, "_write_manifest_pdf", real_write)

    # originals untouched and still the manifest's live set; the merged file
    # exists but is an unreferenced orphan readers never resolve
    now = sorted(glob.glob(f"{out}/blocks/*.parquet"))
    assert set(originals) <= set(now) and len(now) == len(originals) + 1
    live = engine_files.live_splits(out)
    live_names = {f"{sid}.parquet" for sid in live["split_id"].astype(str)}
    assert live_names == {os.path.basename(p) for p in originals}
    restored = str(tmp_path / "restored_crash")
    d = engine_files.decode_files_dataset(spark, out, restored)
    assert d["docs"] == n_docs

    # re-run completes: same deterministic new_sid, orphan overwritten by
    # byte-identical content, manifest flipped, originals + orphans gone
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    final = sorted(glob.glob(f"{out}/blocks/*.parquet"))
    live2 = engine_files.live_splits(out)
    assert {os.path.basename(p) for p in final} == {
        f"{sid}.parquet" for sid in live2["split_id"].astype(str)
    }
    v = engine_files.verify_files_dataset(spark, tok_dir, out)
    assert v["mismatches"] == 0 and v["docs"] == n_docs


def test_decode_files_resume_skips_existing(spark, tok_dir, tmp_path):
    """Export resume-by-presence: already-written output files are skipped
    (writes are atomic, so presence == complete); resume=False re-exports."""
    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=4)
    restored = str(tmp_path / "restored")
    r1 = engine_files.decode_files_dataset(spark, out, restored)
    assert r1["files"] > 0 and r1["files_skipped"] == 0
    r2 = engine_files.decode_files_dataset(spark, out, restored)
    assert r2["files"] == 0 and r2["files_skipped"] == r1["files"]
    r3 = engine_files.decode_files_dataset(spark, out, restored, resume=False)
    assert r3["files"] == r1["files"] and r3["files_skipped"] == 0


def test_tokens_list_array_switches_to_large_list(monkeypatch):
    """Offsets past the int32 range must produce a LargeListArray, not a
    silently-wrapped int32 ListArray (threshold patched down to exercise the
    branch without 8 GiB of tokens)."""
    import pyarrow as pa

    flat = np.arange(16, dtype=np.int32)
    offs = np.array([0, 4, 16], dtype=np.int64)
    small = engine_files._tokens_list_array(flat, offs)
    assert pa.types.is_list(small.type)
    monkeypatch.setattr(engine_files, "_INT32_LIMIT", 10)
    big = engine_files._tokens_list_array(flat, offs)
    assert pa.types.is_large_list(big.type)
    assert big.to_pylist() == small.to_pylist()


def test_verify_recovers_empty_pieces_rows(spark, tok_dir, tmp_path):
    """A manifest row whose recorded pieces list is EMPTY ('[]') counts as
    lineage-less: verify re-plans it instead of handing the worker zero
    tables (legacy-manifest fallback)."""
    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=6)
    pdf = engine_files._read_manifest_pdf(out)
    pdf["pieces"] = "[]"
    engine_files._write_manifest_pdf(out, pdf)
    res = engine_files.verify_files_dataset(spark, tok_dir, out, num_tasks=6)
    assert res["mismatches"] == 0 and res["splits"] > 0


def test_sample_pass_symbols_plumb_into_strings_pass(spark, tok_dir):
    """sample_pass's trained FSST table drives the string-codec pass: every
    chunk verifies against the shared external table (the sampling-pass ->
    encoder wiring the north rule asks for)."""
    from rlv import engine
    from rlv.kernels import fsst

    stats = engine_files.sample_pass(spark, tok_dir, every_kth=1, num_tasks=8)
    symbols = [bytes.fromhex(h) for h in stats["fsst_symbols"]]
    docs = spark.read.parquet(tok_dir).select("doc_id", "source")
    res = engine.strings_pass(
        docs, value_col="source", key_col="source", symbols=symbols
    ).collect()
    assert res and all(r["ok"] == 1 for r in res)


def test_lpt_plan_balances_pathological_skew(spark, tmp_path):
    """Plan-quality guarantee on a Zipf-skewed table: LPT bin-packing of
    row-group byte loads keeps max/mean split load under 1.5 whenever no
    single row group dominates a whole bucket (LPT makespan <= 4/3 OPT)."""
    from rlv import tokens

    pdf = tokens.synth_token_pdf(4000, seed=3, families=("zipf_skew",))
    d = str(tmp_path / "skew")
    # many small files -> row-group granularity far below bucket size
    spark.createDataFrame(pdf, schema=tokens.TOKEN_SCHEMA).repartition(
        64
    ).write.mode("overwrite").parquet(d)
    splits = engine_files.plan_splits(d, 16)
    loads = [s["bytes"] for s in splits]
    assert len(loads) == 16
    imbalance = max(loads) / (sum(loads) / len(loads))
    assert imbalance < 1.5, f"LPT imbalance {imbalance:.3f}"


def test_string_cols_encode_decode_roundtrip(spark, tok_dir, tmp_path):
    """Per-column string encode on the files plane: source goes through
    STRDICT (with the sampling pass's corpus FSST table) into per-split
    sidecars, the plain column leaves the blocks file, and decode (after
    compaction!) reconstructs the token table bit-identically."""
    from rlv.kernels import fsst

    stats = engine_files.sample_pass(spark, tok_dir, every_kth=2, num_tasks=6)
    symbols = [bytes.fromhex(h) for h in stats["fsst_symbols"]]
    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(
        spark, tok_dir, out, num_tasks=6,
        string_cols=("source",), fsst_symbols=symbols,
    )
    blk = spark.read.parquet(f"{out}/blocks")
    assert "source" not in blk.columns  # the plain column is gone
    side = spark.read.parquet(f"{out}/strings")
    assert set(r["col_name"] for r in side.collect()) == {"source"}
    # verify (tokens) still green with the slimmer blocks files
    assert engine_files.verify_files_dataset(spark, tok_dir, out)["mismatches"] == 0
    # compaction carries the sidecars doc-aligned
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] >= 1
    restored = str(tmp_path / "restored")
    engine_files.decode_files_dataset(spark, out, restored)
    src = spark.read.parquet(tok_dir)
    rec = spark.read.parquet(restored)
    assert rec.count() == src.count()
    joined = src.select("doc_id", "tokens", "source").alias("s").join(
        rec.select("doc_id", "tokens", "source").alias("r"), "doc_id"
    )
    bad = joined.filter(
        (F.col("s.tokens") != F.col("r.tokens"))
        | (F.col("s.source") != F.col("r.source"))
    ).count()
    assert bad == 0


def test_symbols_conflict_rejected_and_resume_with_same_ok(spark, tok_dir, tmp_path):
    """A resumed encode may not swap the dataset's recorded FSST table
    (earlier sidecars would silently mis-decode); the same table resumes
    fine."""
    out = str(tmp_path / "enc")
    t1 = [b"ab", b"cd", b"e"]
    engine_files.encode_files_dataset(
        spark, tok_dir, out, num_tasks=4, string_cols=("source",),
        fsst_symbols=t1,
    )
    # same table: resume OK (everything skipped)
    again = engine_files.encode_files_dataset(
        spark, tok_dir, out, num_tasks=4, string_cols=("source",),
        fsst_symbols=t1,
    )
    assert again["splits_encoded"] == 0
    with pytest.raises(ValueError, match="different FSST"):
        engine_files.encode_files_dataset(
            spark, tok_dir, out, num_tasks=4, string_cols=("source",),
            fsst_symbols=[b"zz"],
        )
    with pytest.raises(ValueError, match="string_cols"):
        engine_files.encode_files_dataset(
            spark, tok_dir, out, num_tasks=4, string_cols=("doc_id",),
        )


def test_verify_catches_corrupt_string_sidecar(spark, tok_dir, tmp_path):
    """The string plane is verified, not assumed: a corrupted sidecar block
    must surface as mismatches."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(
        spark, tok_dir, out, num_tasks=4, string_cols=("source",),
    )
    assert engine_files.verify_files_dataset(spark, tok_dir, out)["mismatches"] == 0
    victim = sorted(glob.glob(f"{out}/strings/*.parquet"))[0]
    tbl = pq.read_table(victim)
    blocks = tbl.column("block").to_pylist()
    b = bytearray(blocks[0])
    b[-1] ^= 0xFF
    blocks[0] = bytes(b)
    tbl = tbl.set_column(
        tbl.column_names.index("block"), "block", pa.array(blocks, pa.binary())
    )
    pq.write_table(tbl, victim)
    res = engine_files.verify_files_dataset(spark, tok_dir, out)
    assert res["mismatches"] >= 1


def test_compact_bins_plain_and_sidecar_splits_separately(spark, tok_dir, tmp_path):
    """A dataset holding both plain and string-encoded splits (legitimate
    after a resumed run flips the option) compacts each class into its own
    bins and still decodes."""
    from rlv import tokens

    out = str(tmp_path / "enc")
    engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=4)
    extra_dir = str(tmp_path / "extra_tokens")
    tokens.synth_tokens(spark, n_rows=200, seed=11).repartition(2).write.mode(
        "overwrite"
    ).parquet(extra_dir)
    engine_files.encode_files_dataset(
        spark, extra_dir, out, num_tasks=4, string_cols=("source",),
    )
    res = engine_files.compact_blocks(spark, out, target_bytes=1 << 30)
    assert res["bins_written"] == 2  # one per class, never mixed
    restored = str(tmp_path / "restored")
    dec = engine_files.decode_files_dataset(spark, out, restored)
    n_src = spark.read.parquet(tok_dir).count() + spark.read.parquet(extra_dir).count()
    assert dec["docs"] == n_src


def test_string_cols_rejects_nulls(spark, tmp_path):
    from pyspark.sql.utils import PythonException

    d = str(tmp_path / "nulltok")
    spark.createDataFrame(
        [("a", [1, 2], 2, "s"), ("b", [3], 1, None)],
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    ).write.mode("overwrite").parquet(d)
    out = str(tmp_path / "enc")
    with pytest.raises(Exception, match="NULL"):
        engine_files.encode_files_dataset(
            spark, d, out, num_tasks=2, string_cols=("source",)
        )


def test_disable_codecs_ab_lever(spark, tok_dir, tmp_path):
    """The selector candidate mask behind the bench's DELTA on/off A/B:
    disabling DELTA yields a dataset with no DELTA blocks, still verifying
    bit-identical and within budget; disabling RLE is refused."""
    from rlv import blocks as B

    out = str(tmp_path / "enc_nodelta")
    engine_files.encode_files_dataset(
        spark, tok_dir, out, num_tasks=4, disable_codecs=("delta",)
    )
    ids = {
        int(r["codec_id"])
        for r in spark.read.parquet(f"{out}/blocks").select("codec_id").distinct().collect()
    }
    assert B.DELTA not in ids
    v = engine_files.verify_files_dataset(spark, tok_dir, out)
    assert v["mismatches"] == 0
    pdf = engine_files._read_manifest_pdf(out)
    assert (pdf["bytes_out"] <= pdf["naive_rle_bytes"]).all()
    with pytest.raises(Exception, match="RLE"):
        engine_files.encode_files_dataset(
            spark, tok_dir, str(tmp_path / "x"), num_tasks=2,
            disable_codecs=("rle",),
        )


def test_disable_codecs_rejects_non_candidates(spark, tok_dir, tmp_path):
    for bad in ("fsst", "strdict", "delt", 6, 99):
        with pytest.raises((ValueError, KeyError), match="candidate"):
            engine_files.encode_files_dataset(
                spark, tok_dir, str(tmp_path / "x"), num_tasks=2,
                disable_codecs=(bad,),
            )


def test_codec_mask_pinned_to_dataset(spark, tok_dir, tmp_path):
    """Resuming an encode with a different disable_codecs mask would mix
    selector policies across splits — the dataset records the mask and a
    mismatched resume fails loudly."""
    out = str(tmp_path / "enc_mask")
    engine_files.encode_files_dataset(
        spark, tok_dir, out, num_tasks=4, disable_codecs=("delta",)
    )
    with pytest.raises(ValueError, match="disabled_codec_ids"):
        engine_files.encode_files_dataset(spark, tok_dir, out, num_tasks=4)
    # same mask resumes cleanly
    again = engine_files.encode_files_dataset(
        spark, tok_dir, out, num_tasks=4, disable_codecs=("delta",)
    )
    assert again["splits_encoded"] == 0


def _row_group_input(tok_dir, path, n_groups: int) -> str:
    """``tok_dir``'s rows rewritten as ONE parquet file of ``n_groups``
    row groups, so ``plan_splits`` can cut one split per row group."""
    import os

    import pyarrow.parquet as pq

    tbl = pq.read_table(tok_dir)
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"),
                   row_group_size=-(-len(tbl) // n_groups))
    assert pq.ParquetFile(
        os.path.join(path, "part-0.parquet")
    ).metadata.num_row_groups == n_groups
    return str(path)


def _stage_tasks(spark, job_ids) -> list[int]:
    """``numTasks`` of every stage of the given Spark jobs."""
    st = spark.sparkContext.statusTracker()
    return [
        st.getStageInfo(s).numTasks
        for j in job_ids
        for s in st.getJobInfo(j).stageIds
    ]


def _blocks_sha256(out_dir: str) -> str:
    import hashlib
    import os

    import pyarrow.parquet as pq

    h = hashlib.sha256()
    bdir = f"{out_dir}/blocks"
    for name in sorted(os.listdir(bdir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            for blob in pq.read_table(
                f"{bdir}/{name}", columns=["block"]
            ).column("block").to_pylist():
                h.update(blob)
    return h.hexdigest()


def test_files_jobs_run_one_task_per_slot(spark, tok_dir, tmp_path,
                                           spark_job_ids):
    """The batch encode and its verify over 4 × defaultParallelism
    ``plan_splits`` splits each run exactly defaultParallelism Spark
    tasks, while the dataset keeps one blocks file and one manifest row
    per split and verifies clean.  Jobs whose units are not byte-balanced
    splits keep one task per unit: decode (per blocks file), an explicit
    split list (the streaming path) and verify after compaction (per live
    row)."""
    import glob
    import os

    slots = spark.sparkContext.defaultParallelism
    n_splits = 4 * slots
    src = _row_group_input(tok_dir, tmp_path / "src", n_splits)
    out = str(tmp_path / "enc")
    res = {}

    def tasks(key, fn):
        return _stage_tasks(spark, spark_job_ids(
            lambda: res.setdefault(key, fn()), f"rlv-test-slot-{key}"))

    assert tasks("enc", lambda: engine_files.encode_files_dataset(
        spark, src, out, num_tasks=n_splits)) == [slots]
    assert tasks("ver", lambda: engine_files.verify_files_dataset(
        spark, src, out, num_tasks=n_splits)) == [slots]
    assert res["enc"]["splits_encoded"] == n_splits
    assert len(glob.glob(f"{out}/blocks/*.parquet")) == n_splits
    assert len(engine_files._read_manifest_pdf(out)) == n_splits
    assert res["ver"]["splits"] == n_splits
    assert res["ver"]["mismatches"] == 0

    assert tasks("dec", lambda: engine_files.decode_files_dataset(
        spark, out, str(tmp_path / "dec"))) == [n_splits]
    assert tasks("list", lambda: engine_files.encode_splits(
        spark, engine_files.plan_splits(src, n_splits),
        str(tmp_path / "list"))) == [n_splits]

    # bins of at most two files, the two smallest among them: fewer live
    # rows than splits, and still more than slots
    sizes = sorted(os.path.getsize(f)
                   for f in glob.glob(f"{out}/blocks/*.parquet"))
    engine_files.compact_blocks(spark, out, target_bytes=sizes[0] + sizes[1])
    n_live = len(engine_files.live_splits(out))
    assert slots < n_live < n_splits
    assert tasks("ver-compacted", lambda: engine_files.verify_files_dataset(
        spark, src, out, num_tasks=n_splits)) == [n_live]
    assert res["ver-compacted"]["mismatches"] == 0


def test_failed_slot_task_writes_no_manifest_and_resumes(spark, tok_dir,
                                                         tmp_path,
                                                         monkeypatch,
                                                         spark_job_ids):
    """A split that cannot be read, in the middle of a slot's run of
    splits, fails the whole batch encode before any manifest row is
    written; with the bad split removed, a resume encodes every split,
    and its blocks are byte-identical to a clean encode's."""
    import time

    slots = spark.sparkContext.defaultParallelism
    src = _row_group_input(tok_dir, tmp_path / "src", 4 * slots)
    good = engine_files.plan_splits(src, 4 * slots)
    bad = {"split_id": "0badbadbadbadbad",
           "pieces": [[str(tmp_path / "missing.parquet"), 0]]}
    # 4 * slots + 1 splits: the bad one is third in the first slot's run
    monkeypatch.setattr(engine_files, "plan_splits",
                        lambda d, n: good[:2] + [bad] + good[2:])
    out = str(tmp_path / "enc")

    def fails():
        with pytest.raises(Exception):
            engine_files.encode_files_dataset(spark, src, out,
                                              num_tasks=4 * slots)

    assert _stage_tasks(spark, spark_job_ids(fails, "rlv-test-slot-fail")) \
        == [slots]
    monkeypatch.undo()
    assert engine_files._read_manifest_pdf(out) is None
    # let the failed job's killed tasks drain before the resume reuses
    # their output names
    st = spark.sparkContext.statusTracker()
    deadline = time.time() + 60
    while st.getActiveStageIds() and time.time() < deadline:
        time.sleep(0.2)
    assert not st.getActiveStageIds()

    resumed = engine_files.encode_files_dataset(spark, src, out,
                                                num_tasks=4 * slots)
    assert resumed["splits_encoded"] == len(good)
    assert resumed["splits_skipped"] == 0
    clean = str(tmp_path / "clean")
    engine_files.encode_files_dataset(spark, src, clean, num_tasks=4 * slots)
    assert _blocks_sha256(out) == _blocks_sha256(clean)


def test_slot_tasks_keep_one_task_per_split_under_dynamic_allocation(
        spark, monkeypatch):
    """Packing takes the cores registered now as the slot count, which
    holds on a fixed-size cluster; under dynamic allocation the backlog
    of pending tasks asks for executors, so every split keeps its own
    task."""
    import pyarrow as pa

    sc = spark.sparkContext
    tasks = pa.table(
        {"split_id": [str(i) for i in range(4 * sc.defaultParallelism)]})

    def packed():
        return engine_files.run_file_job(
            spark, tasks, lambda t: [t], "split_id string", packed=True)

    assert packed().rdd.getNumPartitions() == sc.defaultParallelism
    conf = sc.getConf().set("spark.dynamicAllocation.enabled", "true")
    monkeypatch.setattr(sc, "getConf", lambda: conf)
    assert packed().rdd.getNumPartitions() == len(tasks)
