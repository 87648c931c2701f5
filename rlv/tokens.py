"""Token-table construction: the engine's input is always
``(doc_id string, tokens array<int>, n_tok int, source string)`` (input_hint).

Two deterministic sources, no external data:

* :func:`tokens_from_documents` — derives a token table from the driver's
  ``documents.parquet`` entirely JVM-side (per-character Unicode code points via
  ``split`` + ``transform`` + ``ascii``).  Character-level tokenization keeps the
  DuckDB oracle SQL-expressible (FIXTURES.md §1) and both engines agree on code
  points for the (verified ASCII) corpus.
* :func:`synth_token_pdf` / :func:`synth_tokens` — seeded numpy generator for
  the FIXTURES.md §2 row families (uniform / alternating / ramps / mixed
  geometric runs / low-ndv / high-entropy / zipf-skewed lengths), used by tests
  and by ``perfbench`` to reach realistic scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

VOCAB = 50257  # GPT-2-sized vocab bound (FIXTURES.md §1)


def tokens_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> token table, all JVM-side (no Python UDF).

    tokens[i] = Unicode code point of character i of ``text``.  ``split(text,
    '')`` + ``transform(ascii)`` stays inside whole-stage codegen; the scan
    prunes to the three needed columns.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("int")).alias(
            "tokens"
        ),
        F.length("text").cast("int").alias("n_tok"),
        F.col("source").cast("string").alias("source"),
    )


# ---------------------------------------------------------------------------
# Synthetic families (FIXTURES.md §2) — deterministic, seeded, in-process.
# ---------------------------------------------------------------------------


def _family_rows(rng: np.random.Generator, family: str, n_rows: int) -> list[np.ndarray]:
    out: list[np.ndarray] = []
    for _ in range(n_rows):
        kind = family
        if kind == "empty":
            out.append(np.empty(0, dtype=np.int32))
        elif kind == "singleton":
            out.append(np.array([42], dtype=np.int32))
        elif kind == "uniform":
            n = int(rng.choice([2, 5, 255, 256, 1000]))
            out.append(np.full(n, int(rng.integers(0, VOCAB)), dtype=np.int32))
        elif kind == "alternating":
            n = int(rng.integers(2, 1200))
            a, b = rng.integers(0, VOCAB, size=2)
            out.append(np.where(np.arange(n) % 2 == 0, a, b).astype(np.int32))
        elif kind == "ramp":
            n = int(rng.integers(2, 2048))
            start = int(rng.integers(0, VOCAB - 1))
            out.append(((start + np.arange(n)) % VOCAB).astype(np.int32))
        elif kind == "mixed_runs":
            # geometric(p=0.1) run lengths, values from a small vocab
            n_runs = int(rng.integers(1, 200))
            counts = rng.geometric(0.1, size=n_runs)
            values = rng.integers(0, 64, size=n_runs)
            out.append(np.repeat(values, counts).astype(np.int32))
        elif kind == "low_ndv":
            n = int(rng.integers(1, 2048))
            vocab4 = rng.integers(0, VOCAB, size=4)
            out.append(vocab4[rng.integers(0, 4, size=n)].astype(np.int32))
        elif kind == "high_entropy":
            n = int(rng.integers(1, 2048))
            out.append(rng.integers(0, VOCAB, size=n).astype(np.int32))
        elif kind == "zipf_skew":
            n = int(np.clip(rng.zipf(1.5), 1, 65536))
            out.append(rng.integers(0, 256, size=n).astype(np.int32))
        elif kind == "maxrun_boundary":
            n = int(rng.choice([255, 256, 6]))
            out.append(np.full(n, 7, dtype=np.int32))
        elif kind == "bounded_width":
            edges = np.array([0, 255, 256, 65535, 65536, 2**31 - 1], dtype=np.int64)
            n = int(rng.integers(1, 64))
            out.append(edges[rng.integers(0, edges.size, size=n)].astype(np.int32))
        else:
            raise ValueError(f"unknown family {kind}")
    return out


FAMILIES = (
    "empty", "singleton", "uniform", "alternating", "ramp", "mixed_runs",
    "low_ndv", "high_entropy", "zipf_skew", "maxrun_boundary", "bounded_width",
)


def synth_token_pdf(n_rows: int, seed: int = 42, families=FAMILIES) -> pd.DataFrame:
    """Deterministic pandas token table mixing all fixture families."""
    rng = np.random.default_rng(seed)
    per = max(1, n_rows // len(families))
    rows: list[np.ndarray] = []
    sources: list[str] = []
    for fam in families:
        fam_rows = _family_rows(rng, fam, per)
        rows.extend(fam_rows)
        sources.extend([fam] * len(fam_rows))
    # top up to exactly n_rows with mixed_runs
    extra = n_rows - len(rows)
    if extra > 0:
        rows.extend(_family_rows(rng, "mixed_runs", extra))
        sources.extend(["mixed_runs"] * extra)
    return pd.DataFrame(
        {
            "doc_id": [f"doc_{i:08d}" for i in range(len(rows))],
            "tokens": rows,
            "n_tok": np.array([r.size for r in rows], dtype=np.int32),
            "source": sources,
        }
    )


def synth_tokens(
    spark: SparkSession, n_rows: int, seed: int = 42, families=FAMILIES
) -> DataFrame:
    """Spark DataFrame of the synthetic table (Arrow createDataFrame path)."""
    return spark.createDataFrame(synth_token_pdf(n_rows, seed, families), schema=TOKEN_SCHEMA)
