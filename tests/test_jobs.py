"""CLI smoke test: the encode and decode jobs run end to end as scripts.

Each job's ``main()`` stops its own Spark session, so they run as
subprocesses (``--cpus 2`` starts a local session in each), one after the
other, on the shared 400-doc token table."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

_JOBS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "jobs")


def _run(script: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(_JOBS, script), *args],
        capture_output=True, text=True, timeout=600,
    )


def _summary(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )


def _token_rows(path: str) -> list[tuple]:
    cols = ["doc_id", "tokens", "n_tok", "source"]
    tbl = pq.read_table(path, columns=cols).sort_by("doc_id")
    return list(zip(*(tbl.column(c).to_pylist() for c in cols)))


def test_encode_and_decode_jobs_roundtrip(tok_dir, tmp_path):
    enc, dec = str(tmp_path / "enc"), str(tmp_path / "dec")
    summary = _summary(_run("encode_job.py", "--input", tok_dir,
                            "--output", enc, "--cpus", "2", "--verify"))
    src = _token_rows(tok_dir)
    assert summary["verify_mismatches"] == 0
    assert summary["verify_rows"] == len(src)
    out = _summary(_run("decode_job.py", "--input", enc, "--output", dec,
                        "--cpus", "2"))
    assert out["docs"] == len(src)
    assert _token_rows(dec) == src


def test_encode_job_has_no_mode_flag(tmp_path):
    proc = _run("encode_job.py", "--input", str(tmp_path), "--output",
                str(tmp_path / "enc"), "--mode", "jvm")
    assert proc.returncode == 2
    assert "unrecognized arguments: --mode jvm" in proc.stderr
